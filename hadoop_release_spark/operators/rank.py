"""Scalable global total-order ranking (TeraSort numbering analog).

``row_number() OVER (ORDER BY …)`` with no PARTITION BY collapses to
a single partition — fine at test scale, fatal at 100 TB. This
operator produces the identical numbering scalably:

  1. range-partition + sort by the keys (Spark's TotalOrderPartitioner
     analog: sampled range boundaries),
  2. per-partition row_number (a partitioned window — parallel),
  3. per-partition counts → cumulative offsets (#partitions entries:
     a driver-side list, or for prefix sums a window over the tiny
     totals frame) joined back via broadcast.

As long as the sort keys are a total order (unique), the numbering is
deterministic regardless of where range boundaries fall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_release_spark.functions.materialize import persist

_PID = "__rank_pid"


def global_prefix_sums(
    df: DataFrame, order_cols: list, value_cols: list, out_names: list
) -> DataFrame:
    """Append the EXCLUSIVE global prefix sums of each ``value_cols``
    (long) in the total order of ``order_cols`` (must be a total
    order) — k running totals for the price of ONE pass.

    Same two-phase shape as :func:`global_row_number` — a naive
    ``sum() OVER (ORDER BY …)`` with no PARTITION BY collapses to one
    partition. Here: range-partition by the order keys ONCE,
    per-partition running sums for ALL k columns in one parallel
    window, then the per-partition totals (#partitions × k longs)
    turned into exclusive offsets by a window over that tiny frame
    and broadcast back — all inside the plan, so building it fires
    no job. Callers needing several cumulative series
    over the same order (d32's two ECDFs) must use this instead of
    stacking single-column passes: the sampling pass, persist, and
    sort are the cost, and they amortize across columns. The persist
    is load-bearing for the same sampling reason as
    global_row_number."""
    if not value_cols or len(value_cols) != len(out_names):
        raise ValueError(
            "global_prefix_sums: value_cols must be non-empty and the same "
            f"length as out_names (got {len(value_cols)} value_cols, "
            f"{len(out_names)} out_names)"
        )
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    parted = df.repartitionByRange(n_part, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    parted = persist(parted)

    # Offsets inside the plan: the totals frame has at most n_part
    # rows, so its unpartitioned window and broadcast are tiny.
    before = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    totals = parted.groupBy(_PID).agg(
        *[F.sum(F.col(c).cast("long")).alias(f"__psum_exp_{i}") for i, c in enumerate(value_cols)]
    )
    offset_df = totals.select(
        "*",
        *[
            F.coalesce(F.sum(f"__psum_exp_{i}").over(before), F.lit(0)).alias(f"__sum_offset_{i}")
            for i in range(len(value_cols))
        ],
    )

    wo = Window.partitionBy(_PID).orderBy(*order_cols)
    w = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = parted.withColumn("__is_last", F.lead(F.lit(1)).over(wo).isNull())
    for i, c in enumerate(value_cols):
        out = out.withColumn(f"__incl_{i}", F.sum(F.col(c).cast("long")).over(w))
    out = out.join(F.broadcast(offset_df), _PID, "left")
    for i, (c, name) in enumerate(zip(value_cols, out_names)):
        # guard invariant: the last row's INCLUSIVE running sum IS the
        # partition total the offsets were built from — count equality
        # would miss equal-count/different-value drift.
        out = out.withColumn(
            name,
            F.expr(
                _stale_guard(
                    f"CAST(__incl_{i} - CAST({c} AS BIGINT)"
                    f" + __sum_offset_{i} AS BIGINT)",
                    f"__incl_{i}",
                    f"__psum_exp_{i}",
                    "global_prefix_sums",
                )
            ),
        )
    drops = [_PID, "__is_last"] + [
        f"__incl_{i}" for i in range(len(value_cols))
    ] + [f"__psum_exp_{i}" for i in range(len(value_cols))] + [
        f"__sum_offset_{i}" for i in range(len(value_cols))
    ]
    return out.drop(*drops)


def global_prefix_sum(
    df: DataFrame, order_cols: list, value_col: str, out_name: str = "cum_before"
) -> DataFrame:
    """Single-column form of :func:`global_prefix_sums`."""
    return global_prefix_sums(df, order_cols, [value_col], [out_name])


def _stale_guard(
    expr_sql: str, actual_sql: str, expected_col: str, fn_name: str
) -> str:
    """Wrap an output expression in the stale-partitioning tripwire:
    the offsets phase collected a per-partition figure (count / sum /
    max), so if the persisted range-partitioned frame is ever
    recomputed with different boundaries (cache eviction +
    nondeterministic input — same-lineage recompute reuses the
    sampler seed, so deterministic input cannot drift), the figure
    recomputed by the SAME window that produces the output disagrees
    on the partition's LAST row and the query FAILS LOUD instead of
    silently mis-numbering (advisor finding, round 7/8).

    Cost discipline: the last row is found with ``__is_last``
    (a lead() over the window's own partition+order — frame [1,1],
    sharing the existing sort; measured alternative REJECTED: an
    unbounded-frame ``count(*) OVER (PARTITION BY pid)`` forces a
    second buffered window pass, 1.5 → 5.6 s on f04), and
    ``actual_sql`` reuses the output window's own running value at
    that row, so the guard adds no pass and no shuffle. The guard is
    fused into the consumed output column — a standalone guard column
    would be pruned by Catalyst. A pid with rows at output time but
    absent from the offsets (left-join NULL expected) also trips the
    null-safe compare. Not covered (documented residue): a partition
    that vanishes ENTIRELY between the two phases leaves no row to
    raise on — every surviving partition still checks clean."""
    return (
        f"CASE WHEN __is_last AND NOT ({actual_sql} <=> {expected_col}) "
        f"THEN raise_error('{fn_name}: partition contents changed between "
        "the offsets collect and the output pass (stale cache / "
        "nondeterministic input)') "
        f"ELSE {expr_sql} END"
    )


def global_row_number(df: DataFrame, cols: list, rn_name: str = "rn") -> DataFrame:
    """Append 1-based global rank by `cols` (must be a total order).
    Carries the :func:`_stale_guard` tripwire — a drifted recompute
    raises instead of silently mis-numbering."""
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    parted = df.repartitionByRange(n_part, *cols).withColumn(_PID, F.spark_partition_id())
    # Persist before the two downstream jobs (count + rank): the range
    # partitioner SAMPLES to pick boundaries, so re-executing the
    # lineage in each job could yield different partitionings and
    # corrupt the offsets. The same holds at cluster scale — stage
    # materialization is inherent to total-order numbering (TeraSort
    # also does a dedicated sampling pass over stable input).
    parted = persist(parted)

    counts = parted.groupBy(_PID).count().orderBy(_PID).collect()
    rows, acc = [], 0
    for row in counts:
        rows.append((row[_PID], acc, row["count"]))
        acc += row["count"]
    offset_df = df.sparkSession.createDataFrame(
        rows, f"{_PID} int, __rank_offset long, __rank_expected long"
    )

    w = Window.partitionBy(_PID).orderBy(*cols)
    return (
        parted.withColumn("__local_rn", F.row_number().over(w))
        .withColumn("__is_last", F.lead("__local_rn").over(w).isNull())
        .join(F.broadcast(offset_df), _PID, "left")
        .withColumn(
            rn_name,
            F.expr(
                _stale_guard(
                    "CAST(__local_rn + __rank_offset AS BIGINT)",
                    "CAST(__local_rn AS BIGINT)",
                    "__rank_expected",
                    "global_row_number",
                )
            ),
        )
        .drop(_PID, "__local_rn", "__is_last", "__rank_offset", "__rank_expected")
    )


def global_prefix_max(
    df: DataFrame, order_cols: list, value_col: str, out_name: str = "max_before"
) -> DataFrame:
    """Append the EXCLUSIVE global prefix MAX of ``value_col`` (long)
    in the total order of ``order_cols`` — null where no prior row
    exists. Same two-phase shape as :func:`global_prefix_sums` (a
    bare ``max() OVER (ORDER BY …)`` collapses to one partition):
    range-partition once, per-partition exclusive running max in a
    parallel window, then per-partition maxes (#partitions longs)
    collect into exclusive cross-partition offsets broadcast back.
    The persist is load-bearing for the same sampling reason as
    global_row_number."""
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    parted = df.repartitionByRange(n_part, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    parted = persist(parted)

    totals = (
        parted.groupBy(_PID)
        .agg(F.max(F.col(value_col).cast("long")).alias("__pmax"))
        .orderBy(_PID)
        .collect()
    )
    rows, acc = [], None
    for row in totals:
        rows.append((row[_PID], row["__pmax"], acc))
        v = row["__pmax"]
        if v is not None:
            acc = v if acc is None else max(acc, v)
    offset_df = df.sparkSession.createDataFrame(
        rows, f"{_PID} int, __max_expected long, __max_offset long"
    )

    wo = Window.partitionBy(_PID).orderBy(*order_cols)
    w = wo.rowsBetween(Window.unboundedPreceding, -1)
    out = (
        parted.withColumn(
            "__local_excl", F.max(F.col(value_col).cast("long")).over(w)
        )
        .withColumn("__is_last", F.lead(F.lit(1)).over(wo).isNull())
        .join(F.broadcast(offset_df), _PID, "left")
        .withColumn(
            out_name,
            # guard invariant: the last row's INCLUSIVE max (exclusive
            # running max folded with the row's own value) IS the
            # partition max the offsets were built from.
            F.expr(
                _stale_guard(
                    "CASE WHEN __local_excl IS NULL THEN __max_offset "
                    "WHEN __max_offset IS NULL THEN __local_excl "
                    "ELSE greatest(__local_excl, __max_offset) END",
                    "CASE WHEN __local_excl IS NULL"
                    f" THEN CAST({value_col} AS BIGINT)"
                    f" ELSE greatest(__local_excl,"
                    f" CAST({value_col} AS BIGINT)) END",
                    "__max_expected",
                    "global_prefix_max",
                )
            ),
        )
    )
    return out.drop(
        _PID, "__local_excl", "__is_last", "__max_offset", "__max_expected"
    )


def global_kth(
    df: DataFrame, order_cols: list, target_of_total
) -> DataFrame:
    """Return the single row at global rank k (1-based) in the total
    order of ``order_cols`` — distributed SELECTION without numbering
    every row.

    ``target_of_total(total_rows) -> k`` computes the wanted rank
    from the global count (e.g. the lower median
    ``lambda t: (t + 1) // 2``). Two-phase TeraSort shape:
    range-partition by the order keys ONCE, collect per-partition
    COUNTS (#partitions longs — O(partitions), never O(data)),
    locate the one partition containing rank k, and row_number ONLY
    inside it. Versus :func:`global_row_number` this skips the
    numbering window over every partition and the offsets join —
    the other partitions are never sorted. The persist is
    load-bearing for the same sampling reason as global_row_number.
    Ties in ``order_cols`` are fine when only the VALUE at rank k is
    consumed: any stable order among equal keys selects an equal
    value. Returns an empty frame when df is empty.

    Stale-cache guard (advisor finding, round 7): if a persisted
    block were evicted between the counts collect and the final
    action, the recompute re-executes the SAME RDD lineage (same RDD
    id → same range-partitioner sample seed → identical boundaries
    for deterministic input), so drift needs nondeterministic input —
    but belt-and-braces, the returned plan re-counts the selected
    partition inside the same window sort and yields ZERO rows
    instead of a plausible-but-wrong value if the partition's
    contents no longer match the collected count. (localCheckpoint
    was evaluated and rejected: it drops outputPartitioning, adding
    one full-data hash exchange per downstream window — measured in
    the e29 plan.)"""
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    parted = df.repartitionByRange(n_part, *order_cols).withColumn(
        _PID, F.spark_partition_id()
    )
    parted = persist(parted)

    counts = parted.groupBy(_PID).count().orderBy(_PID).collect()
    total = sum(r["count"] for r in counts)
    if total == 0:
        return parted.drop(_PID).limit(0)
    k = int(target_of_total(total))
    if not 1 <= k <= total:
        raise ValueError(f"global_kth: rank {k} outside [1, {total}]")
    acc, pid, local_k = 0, None, None
    for r in counts:
        if acc + r["count"] >= k:
            pid, local_k = r[_PID], k - acc
            break
        acc += r["count"]

    expected = next(r["count"] for r in counts if r[_PID] == pid)
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    return (
        parted.filter(F.col(_PID) == pid)
        .withColumn("__local_rn", F.row_number().over(w))
        .withColumn("__pcount", F.count("*").over(Window.partitionBy(_PID)))
        .filter(
            (F.col("__local_rn") == local_k)
            & (F.col("__pcount") == F.lit(expected))
        )
        .drop(_PID, "__local_rn", "__pcount")
    )
