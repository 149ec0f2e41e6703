"""Local mirror of the driver's oracle comparison.

The driver compares each ``queries()[name]`` result with its
``oracle_sql()[name]`` run in DuckDB: row count + schema (column
names) + order-insensitive value hash. This harness reproduces that
locally so t2 never surprises us: columns sorted by name, rows
canonicalized to strings and compared as sorted multisets.
"""

from __future__ import annotations

import datetime
import decimal
import itertools
import json
import math
import os
import re
import sys
import tempfile
from collections import Counter
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO_ROOT = Path(__file__).resolve().parent.parent
if str(REPO_ROOT) not in sys.path:
    sys.path.insert(0, str(REPO_ROOT))

from hadoop_release_spark.catalog import TABLES  # noqa: E402

#: DuckDB settings of every oracle connection (callers may override):
#: a memory cap well under a shared host's memory, a cap on the spill
#: files, and few threads so the memory cap is not split into slivers
#: that spill on every operator.
ORACLE_MEMORY_LIMIT = "4GB"
ORACLE_SPILL_LIMIT = "8GB"
ORACLE_THREADS = 2


def open_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with every fixture table as a view (the
    driver pre-registers the same views). Memory is capped and spills
    go to a per-process directory under the system temp dir, so a
    large oracle spills to disk instead of exhausting a shared host."""
    con = duckdb.connect()
    spill = Path(tempfile.gettempdir()) / f"oracle-spill-{os.getpid()}"
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(f"SET memory_limit='{ORACLE_MEMORY_LIMIT}'")
    con.execute(f"SET max_temp_directory_size='{ORACLE_SPILL_LIMIT}'")
    con.execute(f"SET threads={ORACLE_THREADS}")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(v) -> str:
    """Canonical string form of one cell (cross-engine stable)."""
    if v is None:
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return repr(f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    return sorted(
        tuple(canon(v) for v in row) for row in df.itertuples(index=False, name=None)
    )


def compare(spark_df, oracle_query: str, con: duckdb.DuckDBPyConnection) -> None:
    """Assert Spark result == DuckDB oracle result (driver semantics)."""
    check(spark_df.toPandas(), con.execute(oracle_query).df())


def check(a: pd.DataFrame, b: pd.DataFrame) -> None:
    """Assert a Spark result frame ``a`` equals the oracle frame ``b``:
    same column names, same row count, same sorted canonical rows."""
    a_cols, b_cols = sorted(a.columns), sorted(b.columns)
    assert a_cols == b_cols, f"column mismatch: spark={a_cols} oracle={b_cols}"
    assert len(a) == len(b), f"row count mismatch: spark={len(a)} oracle={len(b)}"

    ra, rb = _rows(a[a_cols]), _rows(b[b_cols])
    if ra != rb:
        diffs = [(x, y) for x, y in zip(ra, rb) if x != y]
        msg = [f"value mismatch in {len(diffs)}/{len(ra)} rows; first 5 (spark vs oracle):"]
        for x, y in diffs[:5]:
            msg.append(f"  spark : {x}")
            msg.append(f"  oracle: {y}")
        raise AssertionError("\n".join(msg))


#: Ids whose plan build writes scratch output or runs a stream: the
#: plan-shape sweep and the committed fingerprints skip them (their
#: scale posture is pinned by their own tests).
AUDIT_SKIP_PREFIXES = (
    "a02", "a03", "a04", "a05", "a06", "a07", "a08", "a09", "a10", "a11",
    "a12", "a13", "j0", "j1", "c15", "s04", "s05", "s07",
    "c26",  # partitioned scratch write (the DPP layout) — pinned in
            # tests/test_plans.py
    "l76",  # bucketed-index scratch write (c15 pattern) — pinned by
            # test_l76_bucketed_cogroup_has_no_cluster_exchange
)

#: Physical node types a plan fingerprint counts: the shuffles, the
#: Python boundaries and the cache reads.
FINGERPRINT_NODES = (
    "Exchange", "BroadcastExchange", "ArrowEvalPython", "BatchEvalPython",
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "InMemoryTableScan",
)

#: The committed fingerprint of every id not under AUDIT_SKIP_PREFIXES,
#: per fixture scale: a plan that iterates until the data converges
#: (i12's BFS) grows with the data.
FINGERPRINTS_PATH = Path(__file__).resolve().parent / "plan_fingerprints.json"

_BUILDS = itertools.count()
# Node name of one plan-tree line: after the tree drawing and an
# optional whole-stage-codegen marker "*(n) ".
_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s+)?(\w+)")


def build_plan(spark, name: str, fn, sf_dir: str):
    """Build ``fn(spark, sf_dir)`` under a job group of its own and
    return the DataFrame and the number of jobs the build fired (the
    eager jobs: collects, counts and checkpoints before execution)."""
    sc = spark.sparkContext
    group = f"plan-build:{name}:{next(_BUILDS)}"
    sc.setJobGroup(group, f"{name} plan build")
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_fingerprint(df, eager_jobs: int) -> dict[str, int]:
    """Compact plan shape of ``df``: the count of each FINGERPRINT_NODES
    type in its initial physical plan (built, not yet executed), plus
    ``eager_jobs``, the jobs the plan build itself fired. Zero counts
    are left out.

    Counts agree on local[4] and local[8]; the tests and
    scripts/sweep.py both take them on local[8]. On local[1] they do
    not: with one shuffle partition Spark plans no exchange that a
    single partition already satisfies, and the scan-spread guard
    (functions/partitioning.py) never fires."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = Counter(m.group(1) for m in map(_NODE.match, plan.splitlines()) if m)
    fp = {n: nodes[n] for n in FINGERPRINT_NODES if nodes[n]}
    if eager_jobs:
        fp["eager_jobs"] = eager_jobs
    return fp


def load_fingerprints(sf_dir: str) -> dict[str, dict[str, int]]:
    """The committed fingerprints at ``sf_dir``'s scale, by id."""
    return json.loads(FINGERPRINTS_PATH.read_text()).get(Path(sf_dir).name, {})


def dump_fingerprints(sf_dir: str, fps: dict[str, dict[str, int]]) -> None:
    """Replace the committed fingerprints at ``sf_dir``'s scale. One id
    per line, sorted, so a plan change is a one-line diff."""
    scales = json.loads(FINGERPRINTS_PATH.read_text())
    scales[Path(sf_dir).name] = fps
    parts = []
    for scale, by_id in sorted(scales.items()):
        rows = ",\n".join(
            f"  {json.dumps(k)}: {json.dumps(by_id[k], sort_keys=True)}" for k in sorted(by_id)
        )
        parts.append(f"{json.dumps(scale)}: {{\n{rows}\n}}")
    FINGERPRINTS_PATH.write_text("{\n" + ",\n".join(parts) + "\n}\n")
