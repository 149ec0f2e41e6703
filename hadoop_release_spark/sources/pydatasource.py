"""Custom Python Data Source (PySpark 4 DataSource API) — the modern
analog of Hadoop's "write your own InputFormat" extension point.

A Hadoop InputFormat supplies two things: ``getSplits`` (how the
input divides into independently-readable pieces) and a
``RecordReader`` (how one split becomes records). The Python Data
Source API has the same two hooks — ``DataSourceReader.partitions()``
and ``read(partition)`` — and this module implements them for a
parquet-backed documents source, planning row-range splits from
parquet metadata ONLY (no data read at planning time) and streaming
each split as Arrow record batches (zero row-by-row Python cost).

Scale notes: planning touches only the file footer; each partition
reads its own row slice, so parallelism is the partition count; at
100 TB the same class lists files and plans one partition per
row-group/file instead of fixed row ranges (same two methods).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

#: Columns the source exposes; pruned at read time via pyarrow.
_COLUMNS = ["doc_id", "lang", "n_chars"]


class RowRangePartition(InputPartition):
    """One split: a [start, end) row range of the parquet file."""

    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class DocumentsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        self.num_partitions = int(options.get("numPartitions", "4"))
        if not self.path:
            raise ValueError("docsrc requires option 'path'")

    def partitions(self):
        """getSplits analog: plan row ranges from parquet METADATA —
        the data itself is not read on the driver."""
        import pyarrow.parquet as pq

        n = pq.ParquetFile(self.path).metadata.num_rows
        k = self.num_partitions
        step = (n + k - 1) // k
        return [
            RowRangePartition(i * step, min((i + 1) * step, n))
            for i in range(k)
            if i * step < n
        ]

    def read(self, partition: RowRangePartition):
        """RecordReader analog: one split → Arrow record batches
        (yielding batches, not tuples, keeps the transfer columnar).

        Reads ONLY the row groups overlapping this split's row range
        and trims the boundary rows — k splits collectively read the
        file once, not k times; a split never pays for another
        split's bytes (shared core: _read_row_range)."""
        yield from _read_row_range(
            self.path, partition.start, partition.end, _COLUMNS
        )


def _read_row_range(path: str, start: int, end: int, columns: list):
    """Shared RecordReader core: yield Arrow batches for rows
    [start, end) of a parquet file, touching only overlapping row
    groups (batch and streaming readers share this; one definition
    so the trim logic cannot drift)."""
    import pyarrow.parquet as pq

    f = pq.ParquetFile(path)
    md = f.metadata
    rg_start = 0
    for rg in range(md.num_row_groups):
        rg_rows = md.row_group(rg).num_rows
        rg_end = rg_start + rg_rows
        if rg_end > start and rg_start < end:
            t = f.read_row_group(rg, columns=columns)
            lo = max(start - rg_start, 0)
            hi = min(end - rg_start, rg_rows)
            yield from t.slice(lo, hi - lo).to_batches()
        rg_start = rg_end


class DocumentsStreamReader(DataSourceStreamReader):
    """Streaming RecordReader over the same parquet-backed documents
    source — the PARTITION-PLANNED streaming variant (the scale
    path: `SimpleDataSourceStreamReader` prefetches on the driver by
    design and is only for low-throughput sources). Offsets are row
    positions; each micro-batch's [start, end) range is planned into
    row-range splits on the driver (metadata only) and read on
    EXECUTORS as Arrow batches. The fixture file is bounded, so
    `latestOffset` reaches the end and `availableNow` drains it —
    the same code tails an ever-growing source by re-reading the
    footer per trigger."""

    def __init__(self, options: dict):
        import pyarrow.parquet as pq

        self.path = options.get("path")
        if not self.path:
            raise ValueError("docsrc requires option 'path'")
        self.num_partitions = int(options.get("numPartitions", "4"))
        self.n = pq.ParquetFile(self.path).metadata.num_rows

    def initialOffset(self):
        return {"pos": 0}

    def latestOffset(self):
        # Bounded fixture: everything is available. A growing source
        # would re-read the parquet footer (or list files) here.
        return {"pos": self.n}

    def partitions(self, start, end):
        lo, hi = start["pos"], end["pos"]
        k = self.num_partitions
        step = max((hi - lo + k - 1) // k, 1)
        return [
            RowRangePartition(lo + i * step, min(lo + (i + 1) * step, hi))
            for i in range(k)
            if lo + i * step < hi
        ]

    def read(self, partition: RowRangePartition):
        yield from _read_row_range(
            self.path, partition.start, partition.end, _COLUMNS
        )

    def commit(self, end):
        pass  # nothing to clean up: offsets are plain row positions


class DocumentsDataSource(DataSource):
    """spark.read.format("docsrc").option("path", ...).load()  — and
    spark.readStream.format("docsrc") for the streaming variant."""

    @classmethod
    def name(cls) -> str:
        return "docsrc"

    def schema(self) -> str:
        return "doc_id bigint, lang string, n_chars bigint"

    def reader(self, schema) -> DataSourceReader:
        return DocumentsReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return DocumentsStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the source with a session.

    Spark checks for an existing source in the ACTIVE session, so on a
    ``newSession()`` it would find the first session's registration,
    raise DATA_SOURCE_ALREADY_EXISTS, and leave ``docsrc`` unresolvable
    in the new session. ``spark`` is made active for the call."""
    jsession = spark._jvm.org.apache.spark.sql.SparkSession
    prev = jsession.getActiveSession()
    jsession.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(DocumentsDataSource)
    finally:
        if prev.isDefined():
            jsession.setActiveSession(prev.get())
        else:
            jsession.clearActiveSession()
