"""Output digests shared by the driver and the oracle child.

``canon_digest`` is the driver's order-insensitive comparison
(``tests/_harness.py``: columns sorted by name, every cell through
``canon``, rows compared as a sorted multiset), reduced to one hash so
Spark and DuckDB results can be compared across processes.

``fast_digest`` hashes the pandas frame natively; it is only ever
compared with another output of the same engine and query (pass
against cold pass), where dtypes match exactly.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from tests._harness import canon


def canon_digest(df: pd.DataFrame) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        tuple(canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update(repr(row).encode())
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def fast_digest(df: pd.DataFrame) -> str:
    try:
        rows = np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy())
    except TypeError:  # unhashable cells (arrays, lists)
        return canon_digest(df)
    h = hashlib.sha256(repr(list(df.columns)).encode())
    h.update(rows.tobytes())
    return f"{len(df)}:{h.hexdigest()[:24]}"
