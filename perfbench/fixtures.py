"""Deterministic fixture tables for the benchmark.

The benchmark reads only inside its checkout, so it makes its own
copy of the ten fixture tables (schemas and physical parquet types of
FIXTURES.md) from a fixed seed. The tables are the same on every run
and every commit; the run seed only permutes query order. Values are
not byte-identical to any externally supplied fixture set; outputs
are checked against the DuckDB oracle over these same files.

Generation is cached by content: the directory name carries a hash of
this file and the scale factor, so an edit here regenerates. The
generator lives here rather than reusing ``scripts/gen_sf.py`` so that
a change to the program's scripts can never change the benchmark's
inputs between two commits being compared.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per unit of scale factor (sf0.01 gives lineitem ~60k rows).
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
_SEED = 42
_VOCAB = np.array(
    (
        "key agg row scan slow fast table value part hash merge batch spark a "
        "the line sort window join shuffle plan query group filter map reduce "
        "cache disk read write stage"
    ).split()
)


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _ts(rng, start, end, n, sort=False):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    vals = rng.integers(lo, hi, n)
    if sort:
        vals = np.sort(vals)
    return pa.array(vals, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _documents(rng, n: int) -> list[str]:
    """Word soup over a 31-word vocabulary, with ~1% exact and ~2%
    one-word-mutated near duplicates so dedup kernels find pairs."""
    lens = np.clip(rng.poisson(54, n), 8, 110)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    for i in rng.integers(0, n, max(n // 100, 1)):
        texts[i] = texts[int(rng.integers(0, n))]
    for i in rng.integers(0, n, max(n // 50, 1)):
        toks = texts[int(rng.integers(0, n))].split()
        toks[int(rng.integers(0, len(toks)))] = str(_VOCAB[rng.integers(0, len(_VOCAB))])
        texts[i] = " ".join(toks)
    return texts


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(_SEED)
    n = {k: max(int(v * sf), 10) for k, v in _ROWS.items()}
    n_users = max(n["customer"], 2)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(
            rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    np_ = n["part"]
    colors = ["red", "green", "blue", "small", "large", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "cog", "pin"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array([f"{colors[i % 6]} {nouns[(i // 6) % 6]}" for i in range(np_)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": _pick(rng, ["ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM", "LARGE"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + 0.1 * (np.arange(np_) % 1000), 2)),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    # 1..7 lines per order, orders taken in key order until lineitem
    # has its row count; l_linenumber is the position within the order.
    per_order = rng.integers(1, 8, no)
    k = min(int(np.searchsorted(np.cumsum(per_order), n["lineitem"])) + 1, no)
    per_order = per_order[:k]
    nl = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(k), per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": _money(rng, 901.0, 105_000.0, nl),
        "l_discount": pa.array(np.round(rng.integers(0, 11, nl) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, nl) / 100.0, 2)),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(rng, "2024-01-01", "2024-01-31", ne, sort=True),
        "user_id": pa.array(rng.integers(0, n_users, ne), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
        "value": pa.array(np.round(np.clip(rng.lognormal(2.5, 1.0, ne), 0.01, 490.0), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    texts = _documents(rng, nd)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], nd),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    # 10 label clusters in 64 dimensions
    centers = rng.normal(0.0, 0.15, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = (centers[labels] + rng.normal(0.0, 0.08, (nv, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def version(sf: float) -> str:
    """Content hash naming one generated fixture set."""
    h = hashlib.sha256(Path(__file__).read_bytes())
    h.update(repr(sf).encode())
    return h.hexdigest()[:16]


def ensure(root: Path, sf: float) -> Path:
    """Return the fixture directory for ``sf`` under ``root``,
    generating it first if absent. Written to a temporary sibling and
    renamed, so an interrupted run never leaves a partial set."""
    final = root / f"sf{sf:g}-{version(sf)}"
    if final.is_dir():
        return final
    tmp = root / f".{final.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, table in tables(sf).items():
        pq.write_table(table, tmp / f"{name}.parquet", compression="snappy")
    os.replace(tmp, final)
    return final
