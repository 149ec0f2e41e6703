"""Fixture catalog: the single place tables are loaded and normalized.

Tables (TESTDATA.md / FIXTURES.md): region nation customer supplier
part orders lineitem events documents embeddings — one parquet file
per table under the scale-factor directory.

Normalization performed here and nowhere else:
  * ``events.ts`` has arrived in two fixture shapes across driver
    regenerations — INT64 TIMESTAMP(NANOS) (read as bigint via
    ``spark.sql.legacy.parquet.nanosAsLong=true``) and plain
    ``timestamp[us]``. ``normalize_events`` branches on the loaded
    dtype and exposes the same two columns either way:
      - ``ts``    — timestamp at microsecond precision
                    (ns fixture: ``timestamp_micros(ts div 1000)``;
                    integer division = truncation, matching DuckDB's
                    ``CAST(ts_ns AS TIMESTAMP)``; µs fixture: the
                    column as-is, cast NTZ→TIMESTAMP — value-
                    preserving ONLY because ensure_configs pins
                    ``spark.sql.session.timeZone=UTC``)
      - ``ts_ns`` — int64 nanoseconds, for exact arithmetic
                    (ns fixture: the raw value; µs fixture:
                    ``unix_micros(ts) * 1000``).
    ``nanosAsLong=true`` stays pinned: harmless for µs files,
    required if the fixture flips back to nanos.

At 100 TB these tables are directories of many parquet files
(possibly hive-partitioned); ``spark.read.parquet`` handles both
shapes identically, so nothing here assumes single-file inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_release_spark.session import ensure_configs

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that are always broadcast-safe, at any
#: scale factor (bounded domains: 5 regions, 25 nations).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to (ts timestamp, ts_ns bigint)
    regardless of which fixture shape the parquet arrived in.

    Branches on the *loaded* dtype so a driver-side fixture
    regeneration (ns ↔ µs) can never silently break every
    events-reading query again (the round-3 failure mode).
    """
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        # INT64 TIMESTAMP(NANOS) read with nanosAsLong=true.
        return df.withColumn("ts_ns", F.col("ts")).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    if dtype.startswith("timestamp"):
        # timestamp[us] (possibly NTZ). The NTZ→TIMESTAMP cast is
        # value-preserving only under the UTC session pin applied by
        # ensure_configs — do not lift this into a non-UTC context.
        return df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", (F.unix_micros(F.col("ts")) * F.lit(1000)).cast("long")
        )
    raise TypeError(
        f"events.ts has unsupported dtype {dtype!r}; expected bigint "
        "(nanos) or timestamp[us] — fixture schema changed again?"
    )


#: Memoized (applicationId, session, sf_dir, name, mtime_ns) → loaded
#: DataFrame. A DataFrame is an immutable logical plan — reusing it
#: caches the parquet FOOTER/schema/listing work (~0.15 s of driver
#: time per ``spark.read.parquet`` call, measured r15), exactly what
#: a metastore gives a real deployment; every ACTION still scans the
#: parquet data itself (this is plan/metadata reuse, not result or
#: data caching). Safe because no operator ever writes into sf_dir
#: (all sinks use the roundtrip scratch dirs). The mtime_ns in the
#: key (r15 ADVICE; same pattern as streaming/runner's schema memo)
#: invalidates naturally if a fixture is regenerated IN PLACE during
#: a live session — previously the memoized DataFrame pinned the old
#: file listing (deleted files failed tasks mid-query, rewritten
#: files read stale). Bounded so long multi-session test runs cannot
#: accumulate stale plans. Keyed per SESSION, not per application: a
#: frame is bound to the session that read it, and a query run on
#: ``spark.newSession()`` must build its plan, temp views and confs in
#: that session. The id is stable while its entry lives, because the
#: memoized frame holds its session.
_TABLE_MEMO: dict[tuple[str, int, str, str, int], DataFrame] = {}


def _table_mtime_ns(path: str) -> int:
    """Cheap staleness token for the memo key: the path's mtime_ns
    (file fixtures; a directory's own mtime changes whenever a part
    file is added/removed — full-tree walking is the streaming schema
    memo's job, too hot for every table() call). Remote paths
    (hdfs://, s3a://) stat-fail → constant -1 (cache per sf_dir, the
    runner's rule: remote fixtures are not regenerated in place).

    Known gap: rewriting a part file IN PLACE under the same name
    inside a directory fixture leaves the directory mtime unchanged,
    so the memo keeps serving the plan built before the rewrite.
    Regenerate a directory fixture by replacing the directory (or
    adding/removing part files), not by overwriting a part file."""
    import os

    try:
        return os.stat(path).st_mtime_ns
    except OSError:
        return -1


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with contract normalization applied."""
    ensure_configs(spark)
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:
        app_id = None
    path = f"{sf_dir}/{name}.parquet"
    key = (app_id, id(spark), sf_dir, name, _table_mtime_ns(path))
    if app_id is not None:
        cached = _TABLE_MEMO.get(key)
        if cached is not None:
            return cached
    df = spark.read.parquet(path)
    if name == "events":
        df = normalize_events(df)
    if app_id is not None:
        if len(_TABLE_MEMO) > 256:
            _TABLE_MEMO.clear()
        _TABLE_MEMO[key] = df
    return df


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table. DataFrames are lazy, so this is cheap."""
    return {name: table(spark, sf_dir, name) for name in TABLES}
