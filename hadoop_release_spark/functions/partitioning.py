"""Scan-parallelism guard for Arrow-kernel input stages.

A fixture-sized table is one parquet file, so its scan is ONE
partition — and an Arrow kernel (mapInPandas / pandas_udf) that runs
BEFORE the query's first exchange then executes as a single task at
any core count (guide §2.5: one huge unsplittable input → repartition
immediately after the read). d37's draw kernel hit this in round 15;
round 16 found the same single-task stage under every gram/sketch/
scoring kernel that feeds off a raw documents/embeddings scan.

:func:`spread_small_scan` applies d37's guard as the shared rule:
round-robin repartition to ``defaultParallelism`` ONLY when the
input's partition count is below it. On a real cluster a corpus scan
already has more partitions than cores, so the guard never fires and
no exchange is added; locally it unlocks the kernel stage at the cost
of shuffling the (small, fixture-sized) input once.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``defaultParallelism`` iff it
    currently has fewer partitions — the d37 kernel-input guard.

    Row set unchanged (round-robin placement only); plan gains one
    rebalance exchange in the under-partitioned (local/fixture) case
    and is untouched otherwise. If the partition probe fails, the
    failure is warned about and ``df`` is returned unchanged.
    """
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < cores:
            return df.repartition(cores)
    except Exception as exc:
        warnings.warn(f"spread_small_scan: partition probe failed: {exc!r}")
    return df
