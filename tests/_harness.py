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
import math
import os
import sys
import tempfile
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
    a = spark_df.toPandas()
    b = con.execute(oracle_query).df()

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
