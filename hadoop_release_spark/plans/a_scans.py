"""§2.A — scans, sources, sinks.

Reference analog: the HDFS file/block model and Hadoop Input/Output
formats (TextInputFormat, SequenceFile, columnar formats via
libraries) — see SURVEY.md §1.1/§2.A. Here every source is a
DataFrame reader with explicit schema; at 100 TB these are
directory-of-files datasets on HDFS/object storage, and the parquet
scans get predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_release_spark.catalog import table
from hadoop_release_spark.functions.materialize import persist
from hadoop_release_spark.functions.contracts import ts_us
from hadoop_release_spark.plans.registry import register

_LINEITEM_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
    "l_returnflag",
    "l_linestatus",
]


@register(
    "a01_scan_parquet",
    oracle="""
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
           CAST(epoch_us(l_shipdate) AS BIGINT) AS l_shipdate_us
    FROM lineitem
    """,
    priority="P0",
)
def a01_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full columnar scan of lineitem (timestamp projected to epoch-µs
    for portable hashing, contract rule 2)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(*_LINEITEM_COLS, ts_us("l_shipdate").alias("l_shipdate_us"))


@register(
    "a02_scan_csv_roundtrip",
    oracle="SELECT * FROM customer",
)
def a02_scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-format round-trip (Hadoop TextInputFormat analog):
    customer → CSV+header → re-read with the explicit StructType.
    Doubles survive via shortest-repr serialization."""
    from hadoop_release_spark.sources.roundtrip import roundtrip_csv

    return roundtrip_csv(table(spark, sf_dir, "customer"), "a02csv")


@register(
    "a03_scan_json_roundtrip",
    oracle="SELECT * FROM nation",
)
def a03_scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round-trip with explicit schema."""
    from hadoop_release_spark.sources.roundtrip import roundtrip_json

    return roundtrip_json(table(spark, sf_dir, "nation"), "a03json")


@register(
    "a04_scan_orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderpriority,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS o_orderdate_us
    FROM orders
    """,
    priority="P2",
)
def a04_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (the Hive-ecosystem columnar format every
    Hadoop release ships readers for)."""
    from hadoop_release_spark.sources.roundtrip import roundtrip_orc

    orders = table(spark, sf_dir, "orders")
    back = roundtrip_orc(orders, "a04orc")
    return back.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        ts_us("o_orderdate").alias("o_orderdate_us"),
    )


@register(
    "a05_scan_text",
    oracle="SELECT text AS line, length(text) AS line_len FROM documents",
    priority="P2",
)
def a05_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line scan (TextInputFormat): write document text as .txt,
    read lines back, emit (line, length)."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import roundtrip_text

    docs = table(spark, sf_dir, "documents").select("text")
    lines = roundtrip_text(docs, "a05text")
    return lines.select(
        F.col("value").alias("line"), F.length("value").cast("long").alias("line_len")
    )


@register(
    "a06_sink_partitioned",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def a06_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned sink (the Hadoop output-directory-per-key idiom):
    write events partitioned by event_type, re-read, count per
    partition. At scale the re-read with a partition filter prunes
    directories without touching data files."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import scratch_dir

    ev = table(spark, sf_dir, "events").drop("ts_ns")
    path = scratch_dir("a06part")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "a07_merge_upsert",
    oracle="""
    WITH changes AS (
      SELECT c_custkey,
             concat('UPDATED_', c_name) AS c_name,
             c_nationkey, c_acctbal, c_mktsegment,
             (c_custkey % 10 = 5) AS is_delete
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM changes WHERE NOT is_delete
    """,
    priority="P2",
)
def a07_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (CDC apply) emulated via anti-join + union — see
    operators/merge.py. The change feed updates customers with keys ≡0 mod 10
    and deletes those ≡5 mod 10."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.operators.merge import merge_upsert

    customer = table(spark, sf_dir, "customer")
    changes = (
        customer.filter(F.col("c_custkey") % 5 == 0)
        .withColumn("c_name", F.concat(F.lit("UPDATED_"), F.col("c_name")))
        .withColumn("is_delete", F.col("c_custkey") % 10 == 5)
    )
    return merge_upsert(customer, changes, key="c_custkey", delete_flag="is_delete")


@register(
    "a08_scan_gzip_text",
    oracle="SELECT text AS line FROM documents",
    priority="P2",
)
def a08_scan_gzip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed text round-trip (Hadoop TextInputFormat reads
    ``.gz`` transparently; the writer side is
    ``TextOutputFormat`` + ``GzipCodec``): write document text as
    gzip-compressed lines, read it straight back. Note the scale
    caveat Hadoop users know: gzip is NOT splittable, so one ``.gz``
    file = one task — at 100 TB use many files (as a partitioned
    write produces) or a splittable codec (bzip2/zstd-seekable)."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import scratch_dir

    docs = table(spark, sf_dir, "documents").select("text")
    path = scratch_dir("a08gz")
    docs.write.mode("overwrite").option("compression", "gzip").text(path)
    lines = spark.read.text(path)
    return lines.select(F.col("value").alias("line"))


@register(
    "a09_scan_multipath",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
    priority="P2",
)
def a09_scan_multipath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-path scan (FileInputFormat's comma-separated input dirs /
    glob patterns): one read over N directories is ONE distributed
    scan — partition listing unions the file sets, no per-path jobs.
    Demonstrated by writing nation to two directories and reading
    both paths in a single ``load``."""
    from hadoop_release_spark.sources.roundtrip import scratch_dir

    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    p1, p2 = scratch_dir("a09a"), scratch_dir("a09b")
    n.write.mode("overwrite").parquet(p1)
    n.write.mode("overwrite").parquet(p2)
    return spark.read.parquet(p1, p2)


@register(
    "a10_compact_small_files",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    priority="P2",
)
def a10_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the HDFS NameNode-pressure fix;
    CombineFileInputFormat's write-side dual): a dataset fragmented
    into many tiny files is rewritten into few right-sized ones —
    read → repartition(target) → write. Content must be IDENTICAL
    after compaction (the oracle checks the data, a pytest checks
    the file counts). At 100 TB target ≈ dataset_bytes /
    maxPartitionBytes; here 20 fragments → 2 files."""
    from hadoop_release_spark.sources.roundtrip import scratch_dir

    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    fragmented, compacted = scratch_dir("a10frag"), scratch_dir("a10comp")
    n.repartition(20).write.mode("overwrite").parquet(fragmented)
    spark.read.parquet(fragmented).repartition(2).write.mode("overwrite").parquet(
        compacted
    )
    return spark.read.parquet(compacted)


@register(
    "a11_corrupt_records",
    oracle="""
    SELECT 'good' AS kind, count(*) AS n FROM nation
    UNION ALL
    SELECT 'corrupt' AS kind, 5 AS n
    """,
    priority="P2",
)
def a11_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-record tolerance (Hadoop's skip-bad-records / modern
    badRecordsPath): a CSV with planted malformed lines is read in
    PERMISSIVE mode with an explicit schema + ``_corrupt_record``
    column — good rows parse, bad rows land in the corrupt column
    instead of failing the job (at 100 TB a single undroppable bad
    split must never kill a pipeline; DROPMALFORMED/FAILFAST are the
    stricter modes). Emits good/corrupt counts; the planted
    corruption is deterministic so the oracle knows the answer."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import scratch_dir

    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = scratch_dir("a11csv")
    n.coalesce(1).write.mode("overwrite").csv(path)
    # Plant 5 structurally-broken lines (non-numeric keys, wrong arity).
    import os

    part = next(
        f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".csv")
    )
    with open(f"{path}/{part}", "a", encoding="utf-8") as fh:
        for i in range(5):
            fh.write(f"not_a_number,BROKEN_{i}\n")
    # Drop the local-FS checksum sidecar: the append invalidates it
    # (Hadoop's ChecksumFileSystem would otherwise fail the read
    # before the parser ever sees the bad lines — the corruption
    # under test is RECORD-level, not block-level).
    crc = f"{path}/.{part}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    parsed = (
        spark.read.schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    parsed = persist(parsed)  # one parse serves both counts
    good = parsed.filter(F.col("_corrupt_record").isNull()).select(
        F.lit("good").alias("kind")
    )
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        F.lit("corrupt").alias("kind")
    )
    return good.unionByName(bad).groupBy("kind").agg(F.count("*").alias("n"))


@register(
    "a12_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(o_totalprice AS DOUBLE)
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    priority="P1",
)
def a12_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (mergeSchema): a table written over time
    by producers on DIFFERENT schema versions — generation 1 has
    (o_orderkey, o_custkey), generation 2 added o_totalprice and
    dropped o_custkey — is read as ONE dataset whose schema is the
    union of all file schemas, with absent columns null-filled per
    file. This is the additive-evolution contract every long-lived
    100 TB table depends on (readers must not break when writers gain
    columns; Hadoop-era equivalents were Avro/Thrift schema
    resolution rules).

    Scale note: ``mergeSchema`` reconciles footers across files — at
    millions of files that footer sweep is the cost, so production
    tables pin the merged schema in a catalog/metastore and pass it
    explicitly (``.schema(...)``) instead; the null-filling read
    path exercised here is identical either way. The split rule
    (even/odd o_orderkey) is deterministic, so the oracle replays
    both generations with explicit NULL columns."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import scratch_dir

    o = table(spark, sf_dir, "orders")
    path = scratch_dir("a12evo")
    o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_custkey").write.mode(
        "overwrite"
    ).parquet(f"{path}/gen=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.col("o_totalprice").cast("double")
    ).write.mode("overwrite").parquet(f"{path}/gen=2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{path}/gen=1", f"{path}/gen=2"
    )
    return merged.select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "a13_nested_prune",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total
    FROM orders
    """,
    priority="P2",
)
def a13_nested_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-column schema pruning: a table stored with a STRUCT
    column (the shape every event/log/document store converges on)
    is read selecting ONE leaf — and the parquet scan must read ONLY
    that leaf's column chunk, not the whole struct
    (``spark.sql.optimizer.nestedSchemaPruning.enabled``, on by
    default; tests/test_analytics_ops.py pins the pruned ReadSchema).
    At 100 TB a 40-field metadata struct read for one field is a 40×
    I/O difference — nested pruning is column pruning's other half.

    The fixture writes orders with an ``info`` struct
    (custkey/status/totalprice) and reads back the totalprice leaf;
    values round-trip bit-identically so the oracle reads the source
    table."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import scratch_dir

    o = table(spark, sf_dir, "orders")
    path = scratch_dir("a13nest")
    o.select(
        "o_orderkey",
        F.struct(
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        ).alias("info"),
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select(
        "o_orderkey", F.col("info.o_totalprice").alias("total")
    )


#: a14 Z-order knobs. 16 bits per dimension (interleaved → 32-bit
#: z-key), 64 output buckets (top 6 z-bits). The bit-interleave
#: expression is GENERATED once per dialect from the same loop so the
#: Spark plan and the oracle cannot drift.
ZORDER_BITS = 16
ZORDER_BUCKETS = 64
_Z_DAY_US = 24 * 3600 * 1_000_000
_Z_MAX = (1 << ZORDER_BITS) - 1


def _z_interleave(x: str, y: str, dialect: str) -> str:
    """Bit-interleave SQL for two non-negative ints already reduced
    to [0, 2^ZORDER_BITS): x occupies even bits, y odd bits. Pure
    integer arithmetic — identical results in Spark SQL and DuckDB;
    only the shift syntax differs per dialect."""
    terms = []
    for i in range(ZORDER_BITS):
        if dialect == "spark":
            xbit, ybit = f"(shiftright({x}, {i}) % 2)", f"(shiftright({y}, {i}) % 2)"
        else:
            xbit, ybit = f"(({x} >> {i}) & 1)", f"(({y} >> {i}) & 1)"
        terms.append(f"{xbit} * {1 << (2 * i)}")
        terms.append(f"{ybit} * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "a14_zorder_layout",
    oracle=f"""
    WITH base AS (
      SELECT o_custkey AS ck,
             CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
               // {_Z_DAY_US} AS day
      FROM orders
    ), stats AS (
      SELECT min(ck) AS ck0, max(ck) AS ck1, min(day) AS d0, max(day) AS d1
      FROM base
    ), keyed AS (
      SELECT ((ck - ck0) * {_Z_MAX}) // greatest(ck1 - ck0, 1) AS xv,
             ((day - d0) * {_Z_MAX}) // greatest(d1 - d0, 1) AS yv
      FROM base CROSS JOIN stats
    ), z AS (
      SELECT {_z_interleave('xv', 'yv', 'duckdb')} AS zkey FROM keyed
    )
    SELECT zkey // {(1 << (2 * ZORDER_BITS)) // ZORDER_BUCKETS} AS z_bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(zkey) AS min_z, max(zkey) AS max_z
    FROM z GROUP BY 1
    """,
    priority="P1",
)
def a14_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) data layout — the multi-dimensional
    clustering step behind lakehouse OPTIMIZE ZORDER: each dimension
    (customer key, order epoch-day) is min-max normalized onto the
    16-bit grid (the standard z-order prelude — without it a
    small-domain column leaves the top interleave bits constant and
    the curve degenerates to one bucket), then bit-interleaved into
    a 1-D key under which a file range is simultaneously a rectangle
    in BOTH dimensions, so min/max footer stats prune scans filtered
    on either column. The query emits the per-bucket layout summary
    (row count + z-range) a writer would use as file boundaries.

    Determinism: normalization and the z-key are pure integer
    arithmetic ((v−min)·65535 DIV range, then the interleave
    generated from one Python loop for both dialects); all outputs
    are ints.

    Scale shape: the stats row is a 1-row agg that BROADCASTS into a
    map-only z-key projection; the bucket summary is one
    ZORDER_BUCKETS-cardinality agg with map-side partials. The real
    write path is ``df.repartitionByRange(N, zkey)
    .sortWithinPartitions(zkey).write`` — a single range shuffle,
    after which EVERY future scan filtered on either dimension
    prunes ~√selectivity of files instead of reading all of them.
    That asymmetry (one shuffle at write, pruning forever at read)
    is the 100 TB economics of z-ordering."""
    from pyspark.sql import functions as F

    base = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.expr(f"unix_micros(CAST(o_orderdate AS TIMESTAMP)) DIV {_Z_DAY_US}").alias(
            "day"
        ),
    )
    stats = base.agg(
        F.min("ck").alias("ck0"),
        F.max("ck").alias("ck1"),
        F.min("day").alias("d0"),
        F.max("day").alias("d1"),
    )
    keyed = base.crossJoin(F.broadcast(stats)).select(
        F.expr(f"((ck - ck0) * {_Z_MAX}) DIV greatest(ck1 - ck0, 1)").alias("xv"),
        F.expr(f"((day - d0) * {_Z_MAX}) DIV greatest(d1 - d0, 1)").alias("yv"),
    )
    z = keyed.select(F.expr(_z_interleave("xv", "yv", "spark")).alias("zkey"))
    return z.groupBy(
        F.expr(f"zkey DIV {(1 << (2 * ZORDER_BITS)) // ZORDER_BUCKETS}").alias(
            "z_bucket"
        )
    ).agg(
        F.count("*").alias("n_rows"),
        F.min("zkey").alias("min_z"),
        F.max("zkey").alias("max_z"),
    )


# --- conditional registration: Avro (environment-bound) -------------
#
# Spark's Avro DataSource lives in the EXTERNAL spark-avro jar (not
# bundled with pyspark; only avro core/ipc/mapred are). This container
# ships without it, so the a15 row registers only when the jar is
# actually on the classpath — the query then participates in the full
# oracle contract; its absence costs nothing (documented in SURVEY.md
# §2 as conditional, and tests/test_contract.py knows the id).

#: ids whose registration is environment-conditional.
CONDITIONAL_IDS = frozenset({"a15_scan_avro_roundtrip"})


def spark_avro_available() -> bool:
    """True when a spark-avro DataSource jar is on the classpath
    (pyspark's bundled jars dir or $SPARK_HOME/jars)."""
    import glob
    import os

    import pyspark

    dirs = [os.path.join(os.path.dirname(pyspark.__file__), "jars")]
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    return any(glob.glob(os.path.join(d, "*spark-avro*")) for d in dirs)


if spark_avro_available():

    @register("a15_scan_avro_roundtrip", oracle="SELECT * FROM customer")
    def a15_scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Avro round-trip (the Hadoop row container format):
        customer → Avro → re-read with the explicit schema — the a02
        CSV shape on the remaining Hadoop-ecosystem format. Doubles
        and decimals survive natively (Avro logical types)."""
        from hadoop_release_spark.sources.roundtrip import roundtrip_avro

        return roundtrip_avro(table(spark, sf_dir, "customer"), "a15avro")


@register(
    "a16_validate_constraints",
    oracle="""
    SELECT 'lineitem.quantity_range' AS rule,
           (SELECT count(*) FROM lineitem) AS n_checked,
           (SELECT count(*) FROM lineitem
            WHERE l_quantity IS NULL
               OR l_quantity < 1 OR l_quantity > 50) AS n_violations
    UNION ALL
    SELECT 'lineitem.discount_range',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem
            WHERE l_discount IS NULL
               OR l_discount < 0 OR l_discount > 0.1)
    UNION ALL
    SELECT 'lineitem.shipdate_not_null',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem WHERE l_shipdate IS NULL)
    UNION ALL
    SELECT 'orders.custkey_references_customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.mktsegment_domain',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer
            WHERE c_mktsegment IS NULL OR c_mktsegment NOT IN
              ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'))
    """,
    priority="P2",
)
def a16_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time data-contract validation (the Great Expectations /
    Deequ shape): declared rules — range, not-null, categorical
    domain, referential integrity — evaluated in bulk, emitting one
    (rule, n_checked, n_violations) row each. The gate a production
    pipeline runs between landing and publishing a partition.

    Scale shape: all three lineitem rules ride ONE scan as
    conditional partial+final aggregates (adding a rule adds a
    column, not a pass); the customer-domain rule is its own
    single-scan agg; referential integrity is ONE left-anti join
    (orders ⋈ customer on custkey — planner-chosen, broadcast when
    the dim fits). The result is |rules| rows — union of 1-row
    aggregates, zero-shuffle concat."""
    from pyspark.sql import functions as F

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    qty_bad = (
        F.col("l_quantity").isNull()
        | (F.col("l_quantity") < 1)
        | (F.col("l_quantity") > 50)
    )
    disc_bad = (
        F.col("l_discount").isNull()
        | (F.col("l_discount") < 0)
        | (F.col("l_discount") > 0.1)
    )
    li_stats = li.agg(
        F.count("*").cast("long").alias("n"),
        viol(qty_bad).alias("v_qty"),
        viol(disc_bad).alias("v_disc"),
        viol(F.col("l_shipdate").isNull()).alias("v_ship"),
    )
    li_rows = li_stats.selectExpr(
        """stack(3,
             'lineitem.quantity_range', n, v_qty,
             'lineitem.discount_range', n, v_disc,
             'lineitem.shipdate_not_null', n, v_ship)
           AS (rule, n_checked, n_violations)"""
    )
    seg_bad = F.col("c_mktsegment").isNull() | ~F.col("c_mktsegment").isin(
        "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
    )
    c_rows = c.agg(
        F.count("*").cast("long").alias("n_checked"),
        viol(seg_bad).alias("n_violations"),
    ).select(
        F.lit("customer.mktsegment_domain").alias("rule"),
        "n_checked",
        "n_violations",
    )
    orphan = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").cast("long").alias("n_violations"))
    )
    o_rows = (
        o.agg(F.count("*").cast("long").alias("n_checked"))
        .crossJoin(F.broadcast(orphan))
        .select(
            F.lit("orders.custkey_references_customer").alias("rule"),
            "n_checked",
            "n_violations",
        )
    )
    return li_rows.unionByName(o_rows).unionByName(c_rows)


@register(
    "a17_scan_binaryfile",
    oracle="""
    SELECT r_regionkey,
           CAST(octet_length(encode(r_name || chr(10))) AS BIGINT) AS n_bytes,
           md5(hex(encode(r_name || chr(10)))) AS content_md5
    FROM region
    """,
    priority="P2",
)
def a17_scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion (``binaryFile`` source) — the
    entry point for multimodal corpora: each file becomes ONE row
    (path, modificationTime, length, content) with the payload as an
    opaque binary column (the §2.M model). Demonstrated as a full
    write→ingest round-trip: region rows written as one text file per
    partition directory, re-ingested as whole binary files, byte
    length + md5 verified against the source table, partition key
    recovered from the directory name.

    ORACLE NOTE: the content hash must be md5-of-HEX-STRING on both
    engines (DuckDB's md5 takes VARCHAR only; hex() is uppercase in
    both). Spark's ``length`` from binaryFile is true byte length —
    the oracle measures encode()'d bytes, not characters.

    Scale shape: binaryFile files are NOT split (one row per file),
    so parallelism = file count — right for many small-to-medium
    media blobs, wrong for single huge archives (shard those
    upstream). The partition-directory layout means a metadata
    predicate on the recovered key prunes directories before any
    payload bytes are read."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import fixed_scratch_dir

    r = table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("value")
    )
    base = fixed_scratch_dir("a17bin", key=sf_dir)
    # text writer emits one line per row + '\n'; partitionBy gives
    # one directory (and here one file) per region key.
    r.write.mode("overwrite").partitionBy("r_regionkey").text(base)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(base)
    )
    return files.select(
        F.regexp_extract("path", r"r_regionkey=(\d+)", 1)
        .cast("long")
        .alias("r_regionkey"),
        F.col("length").alias("n_bytes"),
        F.md5(F.hex("content")).alias("content_md5"),
    )


@register(
    "a18_scan_file_metadata",
    oracle="""
    SELECT 'documents.parquet' AS file_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS min_row_index,
           CAST(count(*) - 1 AS BIGINT) AS max_row_index
    FROM documents
    """,
    priority="P2",
)
def a18_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (`_metadata.file_name` /
    `_metadata.row_number`... exposed as `row_index`) — the lineage
    surface every large-scale ingestion audit needs: which physical
    file and position each record came from, WITHOUT any column
    stored in the data. Aggregated per file to the dense-index
    invariant (count n with indices exactly 0..n-1), so the oracle
    is robust to row ordering inside the file.

    Scale shape: metadata columns are populated by the scan itself —
    zero extra I/O; the per-file agg is the standard partial+final
    pair. At 100 TB this is how bad-record quarantines point back to
    source files."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
            "file_name"
        ),
        F.col("_metadata.row_index").alias("row_index"),
    )
    return d.groupBy("file_name").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("row_index").cast("long").alias("min_row_index"),
        F.max("row_index").cast("long").alias("max_row_index"),
    )


@register(
    "a19_dynamic_partition_overwrite",
    oracle=f"""
    WITH ev AS (
      SELECT event_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT)
               // {_Z_DAY_US} AS day,
             event_type,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    ), touched AS (
      -- dynamic overwrite replaces ONLY partitions present in the
      -- batch: a day =1 mod 3 with zero purchase events is absent
      -- from the batch and its old rows SURVIVE.
      SELECT DISTINCT day FROM ev
      WHERE day % 3 = 1 AND event_type = 'purchase'
    )
    SELECT event_id, day, event_type, cents FROM ev
    WHERE day NOT IN (SELECT day FROM touched)
    UNION ALL
    SELECT event_id, day, event_type, cents FROM ev
    WHERE day IN (SELECT day FROM touched) AND event_type = 'purchase'
    """,
    priority="P2",
)
def a19_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse backfill
    primitive (Hive's ``INSERT OVERWRITE ... PARTITION`` with
    dynamic resolution; Spark's
    ``partitionOverwriteMode=dynamic``): a corrected batch REPLACES
    exactly the day-partitions it contains and leaves every other
    partition's files untouched — unlike static overwrite (a06's
    mode truncates the whole table) and unlike append/merge (a07
    rewrites rows, not partitions). The fixture rewrites days
    ≡1 mod 3 with only their purchase events — the read-back
    proving REPLACEMENT (the non-purchase rows of those days are
    gone), not append — then returns the final table state. The
    oracle encodes the mode's one sharp edge: a partition ABSENT
    from the batch (a day ≡1 mod 3 with zero purchases) is not
    touched, so its old rows survive — overwrite-by-presence, not
    overwrite-by-predicate.

    The mode is set as a WRITER option, not session conf, so the
    op is correct on any (driver-unconfigured) session. Scale
    shape: day-partitioned events are the standard 100 TB layout;
    the backfill writes only the batch's partitions (one shuffle-
    free pass over batch rows) and the swap is a metadata move per
    touched directory — cost ∝ batch, never ∝ table. Partition
    directory values read back as int32; the output casts to the
    contract's bigint."""
    from pyspark.sql import functions as F

    from hadoop_release_spark.sources.roundtrip import fixed_scratch_dir

    ev = table(spark, sf_dir, "events").select(
        "event_id",
        F.expr(f"unix_micros(ts) DIV {_Z_DAY_US}").alias("day"),
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").alias(
            "cents"
        ),
    )
    path = fixed_scratch_dir("a19dyn", sf_dir)
    # Full static overwrite lays down the "production" table — and
    # resets the fixed scratch dir, so re-runs never see stale state.
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    batch = ev.filter(
        (F.col("day") % 3 == 1) & (F.col("event_type") == "purchase")
    )
    (
        batch.write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("day")
        .parquet(path)
    )
    out = spark.read.parquet(path)
    return out.select(
        "event_id",
        F.col("day").cast("long").alias("day"),
        "event_type",
        "cents",
    )
