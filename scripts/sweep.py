"""Driver-shaped sweep: correctness, timing and plan fingerprints.

Simulates the external driver: an unconfigured ``local[8]``
SparkSession running ``__spark_entry__.queries()`` in grading order at
sf0.01. For each id it builds the plan and counts the jobs the build
fires, takes the plan fingerprint (``tests/_harness.plan_fingerprint``),
times ``toPandas()`` and checks the rows against the DuckDB oracle with
the harness comparator, or, for a rows-only id, that rows came back.
Each audited id's fingerprint is diffed against its sf0.01 entry in
``tests/plan_fingerprints.json``; ``--write-fingerprints`` records the
swept ids' entries instead, at sf0.01 and at the tests' sf0.001.

Prints one line per id, the slowest 20 and one JSON summary line, and
exits 1 on any failure.

Usage:
    python scripts/sweep.py [ID_OR_PREFIX ...] [--first N]
    python scripts/sweep.py ID_OR_PREFIX ... --write-fingerprints
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from dataclasses import dataclass
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from hadoop_release_spark.catalog import load  # noqa: E402
from tests import _harness  # noqa: E402

#: The driver grades at sf0.01; the tests default to sf0.001
#: (tests/conftest.py).
SF_DIR = "/root/testdata/sf0.01"
TEST_SF_DIR = "/root/testdata/sf0.001"


@dataclass
class Result:
    name: str
    status: str  # MATCH, rows-only, or what failed
    ok: bool
    rows: int = 0
    build_s: float = 0.0
    to_pandas_s: float = 0.0
    oracle_s: float = 0.0
    fingerprint: dict[str, int] | None = None


def sweep_one(spark, sf_dir: str, name: str, fn, oracle: str | None, con) -> Result:
    """Build, fingerprint, run and check one id, the way the driver
    runs it. ``fn`` is the registry's wrapped query function and
    ``oracle`` its DuckDB SQL, or None for a rows-only id."""
    t0 = time.perf_counter()
    try:
        df, eager_jobs = _harness.build_plan(spark, name, fn, sf_dir)
        fp = _harness.plan_fingerprint(df, eager_jobs)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        if oracle is None:
            status = "rows-only" if len(pdf) else "EMPTY"
        else:
            try:
                _harness.check(pdf, con.execute(oracle).df())
                status = "MATCH"
            except AssertionError as exc:
                status = f"MISMATCH: {str(exc).splitlines()[0]}"
        t3 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 — one id's error must not end the sweep
        return Result(name, f"ERROR: {type(exc).__name__}: {exc}"[:300], False,
                      build_s=time.perf_counter() - t0)
    return Result(name, status, status in ("MATCH", "rows-only"), len(pdf),
                  t1 - t0, t2 - t1, t3 - t2, fp)


def record_test_scale(names: list[str], qs, spark) -> None:
    """Record ``names``' fingerprints at the tests' scale: plan builds
    only, nothing is executed."""
    load(spark, TEST_SF_DIR)
    committed = _harness.load_fingerprints(TEST_SF_DIR)
    for name in names:
        df, eager_jobs = _harness.build_plan(spark, name, qs[name], TEST_SF_DIR)
        committed[name] = _harness.plan_fingerprint(df, eager_jobs)
    _harness.dump_fingerprints(TEST_SF_DIR, committed)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("ids", nargs="*", help="query ids or id prefixes (default: all)")
    ap.add_argument("--first", type=int, help="only the first N ids of grading order")
    ap.add_argument("--write-fingerprints", action="store_true",
                    help="record the swept ids' fingerprints (sf0.01 and sf0.001) "
                    "instead of diffing them")
    args = ap.parse_args()

    # Python workers import the package from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p
    )
    t0 = time.perf_counter()
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sweep")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )  # deliberately unconfigured beyond UI silencing, as the driver's
    session_s = time.perf_counter() - t0
    # Schema inference fires one job per table; load every table first
    # so those jobs are not counted as the first reader's eager jobs.
    load(spark, SF_DIR)

    qs, oracles = entry.queries(), entry.oracle_sql()
    names = list(qs)[: args.first]
    if args.ids:
        names = [n for n in names if n.startswith(tuple(args.ids))]
    con = _harness.open_oracle(SF_DIR)
    committed = _harness.load_fingerprints(SF_DIR)

    results, recorded = [], []
    for name in names:
        r = sweep_one(spark, SF_DIR, name, qs[name], oracles.get(name), con)
        if r.fingerprint is not None and not name.startswith(_harness.AUDIT_SKIP_PREFIXES):
            if args.write_fingerprints:
                committed[name] = r.fingerprint
                recorded.append(name)
            elif committed.get(name) != r.fingerprint:
                r.status += f"; PLAN {committed.get(name)} -> {r.fingerprint}"
                r.ok = False
        results.append(r)
        print(f"{name:32s} build={r.build_s:6.2f}s toPandas={r.to_pandas_s:6.2f}s "
              f"oracle={r.oracle_s:5.2f}s rows={r.rows:<7d} {r.status}", flush=True)
    con.close()
    if args.write_fingerprints:
        _harness.dump_fingerprints(SF_DIR, committed)
        record_test_scale(recorded, qs, spark)

    def total(r: Result) -> float:
        return r.build_s + r.to_pandas_s + r.oracle_s

    print("=== slowest 20 (build + toPandas + oracle) ===")
    for r in sorted(results, key=total, reverse=True)[:20]:
        print(f"{r.name:32s} {total(r):7.2f}s  {r.status}")
    failures = [r.name for r in results if not r.ok]
    print(json.dumps({
        "ids": len(results),
        "failures": failures,
        "session_s": round(session_s, 1),
        "total_s": round(sum(map(total, results)), 1),
    }))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
