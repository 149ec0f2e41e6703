"""DuckDB oracle digests, run in a child process with a memory cap.

Usage (by ``run.py``): python oracle.py REQUEST.json RESULT.json

REQUEST holds ``{"data_dir", "temp_dir", "mem_bytes", "queries":
{id: sql}}``. The child caps its address space, keeps DuckDB's spill
files inside ``temp_dir`` and writes ``{id: {"digest"} | {"error"}}``.
A query that exhausts memory or the spill cap is reported as an
error for that id; the parent's time limit covers the whole child.
"""

from __future__ import annotations

import json
import resource
import sys
from pathlib import Path


def main(request_path: str, result_path: str) -> None:
    req = json.loads(Path(request_path).read_text())
    mem = int(req["mem_bytes"])
    resource.setrlimit(resource.RLIMIT_AS, (mem, mem))

    from perfbench.check import canon_digest
    from tests._harness import open_oracle

    con = open_oracle(req["data_dir"])
    con.execute(f"SET temp_directory='{req['temp_dir']}'")
    con.execute(f"SET memory_limit='{mem // 4 // 2**20}MB'")
    con.execute("SET max_temp_directory_size='2GB'")
    con.execute("SET threads=2")
    out: dict[str, dict] = {}
    for qid, sql in req["queries"].items():
        try:
            out[qid] = {"digest": canon_digest(con.execute(sql).df())}
        except Exception as exc:  # report per query, keep checking the rest
            out[qid] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    Path(result_path).write_text(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
