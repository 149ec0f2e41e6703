"""Structured Streaming bridge: bounded streams with deterministic
final results.

The reference's streaming model is directory-polling micro-batch by
convention (core Hadoop is batch-only); Structured Streaming is the
engine's native generalization. For the oracle-checkable contract we
run each streaming query over the fixture parquet with
``trigger(availableNow=True)`` into an in-memory sink: all input is
consumed in bounded micro-batches and the final materialized table
equals the batch semantics.

Output-mode discipline (verified semantics, not style):
  * aggregations → COMPLETE (append would withhold windows newer
    than the final watermark — the watermark only advances on the
    NEXT batch, which never comes at end-of-stream);
  * watermarked aggregations checked against a batch oracle → UPDATE
    with the input pinned to ONE micro-batch (update re-emits a
    changed window per batch, and the memory sink appends, so
    multiple batches would duplicate rows — materialize() asserts
    the single-batch invariant for update mode);
  * stateless transforms (dedup, stream-static joins) → APPEND.
Multi-batch behavioral semantics (late-data drops, append-mode
window emission) are pytest-verified in tests/test_streaming.py,
not hash-checked.

Shuffle-partition scoping: every stateful streaming operator builds
one state-store instance (and one task) per shuffle partition, a
FIXED cost per micro-batch that dwarfs the work at fixture scale —
an unconfigured session defaults to 200 partitions, i.e. 200 state
stores for a 60k-row input (measured ~5× slowdown). materialize()
scopes the partition count down for the run and restores the
caller's value. At cluster scale the same knob is instead sized to
total state volume, and it is pinned for the lifetime of a
checkpoint — choose it before the first run.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from hadoop_release_spark.catalog import normalize_events
from hadoop_release_spark.functions.materialize import temp_view
from hadoop_release_spark.session import ensure_configs

#: Shuffle/state partitions used while materializing fixture-scale
#: streams (see module docstring).
FIXTURE_STREAM_PARTITIONS = 8

#: (sf_dir, file mtime_ns) → events schema; the batch-side probe is
#: identical per directory, so one read serves every streaming query
#: in a session. The mtime key invalidates on IN-PLACE fixture
#: regeneration — a stale schema would silently misdecode a ns↔µs
#: dtype flip (the drift normalize_events exists to catch).
_SCHEMA_CACHE: dict[tuple[str, int], StructType] = {}


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a stream, with the same ns→µs ts normalization the
    batch catalog applies. The whole fixture is consumed in ONE
    micro-batch (maxFilesPerTrigger far above the fixture file count;
    materialize() asserts the invariant where it is load-bearing)."""
    import os

    ensure_configs(spark)
    path = f"{sf_dir}/events.parquet"
    is_dir = os.path.isdir(path)
    try:
        if is_dir:
            # directory-shaped table (part-*.parquet inside): the dir
            # mtime does NOT change on in-place file rewrites, so key
            # on the leaf files instead. Walk the WHOLE tree — a
            # partitioned layout (key=…/part-*.parquet) rewritten in
            # place keeps top-level entry mtimes, so newest-leaf-mtime
            # plus (file count, total bytes) form the key (advisor
            # find — a stale schema would silently misdecode a ns↔µs
            # dtype flip).
            newest, n_files, total = -1, 0, 0
            for root_dir, _dirs, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(root_dir, f))
                    newest = max(newest, st.st_mtime_ns)
                    n_files += 1
                    total += st.st_size
            mtime = hash((newest, n_files, total))
        else:
            mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = -1  # remote path (hdfs://, s3a://): cache per sf_dir
    key = (sf_dir, mtime)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    # readStream requires a directory source. pathGlobFilter matches
    # LEAF FILE names only, so it must differ by fixture layout:
    # single-file events.parquet → scope the fixture dir to that file;
    # directory-shaped events.parquet → stream the directory itself
    # (a leaf filter of 'events.parquet' would match zero part files
    # and silently yield an EMPTY stream — self-review find).
    if is_dir:
        reader = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1000
        )
        raw = reader.parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .option("maxFilesPerTrigger", 1000)
            .parquet(sf_dir)
        )
    # Same dtype-branching normalization as the batch catalog — the
    # streaming and batch views of events must agree column-for-column.
    return normalize_events(raw)


class scoped_stream_partitions:
    """Scope ``spark.sql.shuffle.partitions`` to the fixture-sized
    streaming value and restore the caller's setting on exit (state
    stores are per-partition; see module docstring). Shared by
    materialize() and the foreachBatch path (j09) so the scoping
    policy lives in exactly one place. Not concurrency-safe — the
    conf is session-global, matching the driver's sequential
    grading."""

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        self._old = self._spark.conf.get("spark.sql.shuffle.partitions")
        self._spark.conf.set(
            "spark.sql.shuffle.partitions", str(FIXTURE_STREAM_PARTITIONS)
        )
        return self

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False


def materialize(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run the stream to completion (availableNow) into a memory sink
    and return the final table. The sink's ``stream_out_*`` temp view
    is owned until ``functions.materialize.release()``.

    Scopes ``spark.sql.shuffle.partitions`` to the fixture-sized value
    for the duration of the run (state stores are per-partition; see
    module docstring) and restores the caller's setting afterwards.
    Not concurrency-safe — the conf is session-global, matching the
    driver's sequential grading; a concurrent harness must pin the
    value once per session instead.
    """
    spark = stream_df.sparkSession
    name = "stream_out_" + uuid.uuid4().hex[:12]
    temp_view(spark, name)
    with scoped_stream_partitions(spark):
        query = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        if output_mode == "update":
            # Update mode re-emits changed windows per micro-batch and
            # the memory sink APPENDS, so correctness of the final
            # table requires the whole input in one batch. Assert it
            # instead of trusting the fixture layout.
            batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
            if len(batches) > 1:
                raise AssertionError(
                    f"update-mode stream consumed {len(batches)} micro-batches; "
                    "the memory-sink oracle bridge requires exactly one "
                    "(raise maxFilesPerTrigger in stream_events)"
                )
    return spark.table(name)
