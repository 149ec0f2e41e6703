"""Per-layer tracing from outside the program.

Nothing under ``hadoop_release_spark/`` is edited. Layer numbers come
from two places:

* Wrappers around the public DataFrame-returning functions of the
  ``catalog``, ``functions``, ``operators``, ``sources`` and
  ``streaming`` modules. They must be installed before the plans
  modules are imported, because those bind the names at import time.
  Each wrapped call records a span (name, start, end, parent, query
  id); spans stay in memory and are written out once, at the end.
* Spark's own status stores, read after each query: the jobs, stages
  and SQL executions started while it ran (job groups name each
  build/execute step; job and execution ids are sequential, which
  also catches jobs that streaming threads run under their own
  group).

A wrapper that finds tracing inactive calls straight through, so a
traced run can alternate traced and untraced passes and report the
tracing overhead as their difference.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import time
from collections import defaultdict
from pathlib import Path

#: module -> (family, function-name filter); a filter of None wraps
#: every public function whose return annotation names DataFrame or
#: Column. Those only build plans on the driver; helpers that Python
#: workers call (codecs, hashes) return neither and stay unwrapped.
_TARGETS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "hadoop_release_spark.catalog": ("catalog.table", ("table",)),
    "hadoop_release_spark.functions.materialize": ("functions.eager_truncate", ("eager_truncate",)),
    "hadoop_release_spark.functions.partitioning": ("functions.spread", ("spread_small_scan",)),
    "hadoop_release_spark.operators.dedup": ("operators.dedup", None),
    "hadoop_release_spark.operators.similarity": ("operators.similarity", None),
    "hadoop_release_spark.operators.multimodal": ("operators.multimodal", None),
    "hadoop_release_spark.operators.rank": ("operators.rank", None),
    "hadoop_release_spark.sources.roundtrip": (
        "sources.roundtrip",
        ("roundtrip_csv", "roundtrip_json", "roundtrip_orc", "roundtrip_text", "roundtrip_avro"),
    ),
    "hadoop_release_spark.streaming.runner": ("streaming.materialize", ("materialize",)),
}

_PY_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}
_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_METRIC_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ms|min|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Total of one SQL metric as Spark formats it (ms or bytes).
    Multi-task values read ``"total (min, med, max ...)\\n<total> (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _METRIC_RE.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _builds_plan(fn) -> bool:
    try:
        ann = str(inspect.signature(fn).return_annotation)
    except (TypeError, ValueError):
        return False
    return "DataFrame" in ann or "Column" in ann


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[list] = []  # [name, start, end, parent, qid]
        self._stack: list[int] = []
        self._qid: str | None = None
        self._rec: dict | None = None
        self._last_table: dict = {}
        self._last_exec = -1
        self._spark = None

    # -- wrappers -------------------------------------------------------
    def install(self) -> None:
        """Wrap the layer functions. Call before the plans import."""
        for modname, (family, names) in _TARGETS.items():
            mod = importlib.import_module(modname)
            for name, fn in list(vars(mod).items()):
                if not inspect.isfunction(fn) or fn.__module__ != modname or name.startswith("_"):
                    continue
                if names is not None and name not in names:
                    continue
                if names is None and not _builds_plan(fn):
                    continue
                setattr(mod, name, self._wrap(family, fn))

    def _wrap(self, family: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer._open(family)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._close(idx)
            tracer._observe(family, args, out)
            return out

        return wrapper

    def _open(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.monotonic(), None, parent, self._qid])
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.monotonic()
        self._stack.pop()

    def _observe(self, family: str, args, out) -> None:
        rec = self._rec
        if rec is None:
            return
        if family == "catalog.table" and len(args) >= 3:
            key = (args[1], args[2])
            rec["catalog_hits"] += self._last_table.get(key) is out
            self._last_table[key] = out
        elif family == "functions.spread" and args:
            rec["spread_applied"] += out is not args[0]

    # -- per-query steps --------------------------------------------------
    def attach(self, spark) -> None:
        self._spark = spark

    def _jobs_total(self) -> int:
        return self._spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    def begin_query(self, pass_idx: int, qid: str) -> dict:
        # untraced queries ran in between: skip their executions
        self._last_exec = self._max_exec_id()
        self._qid = qid
        self._rec = defaultdict(float)
        self._rec["_spans_from"] = len(self.spans)
        self._rec["_root"] = self._open(f"query:{pass_idx}")
        return self._rec

    def begin_step(self, pass_idx: int, step: str) -> None:
        sc = self._spark.sparkContext
        sc.setJobGroup(f"perfbench:{pass_idx}:{self._qid}:{step}", f"{self._qid} {step}")
        self._rec[f"_{step}_jobs_from"] = self._jobs_total()
        self._rec[f"_{step}_span"] = self._open(step)

    def end_step(self, step: str) -> None:
        self._close(int(self._rec[f"_{step}_span"]))
        self._rec[f"_{step}_jobs_to"] = self._jobs_total()

    def end_query(self, wall_from_ms: float, wall_to_ms: float, pdf) -> dict:
        """Close the query span and read everything it started."""
        rec = self._rec
        root = int(rec["_root"])
        while self._stack and self._stack[-1] != root:  # a step that raised
            self._close(self._stack[-1])
        self._close(root)
        if pdf is not None:
            rec["transfer_rows"] = len(pdf)
            rec["transfer_bytes"] = float(pdf.memory_usage(index=False, deep=True).sum())
        self._spans_into(rec)
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        intervals = []
        for step in ("build", "execute"):
            lo = int(rec.get(f"_{step}_jobs_from", 0))
            hi = int(rec.get(f"_{step}_jobs_to", lo))
            step_iv = self._read_jobs(lo, hi, rec)
            intervals += step_iv
            if step == "build":
                rec["eager_jobs"] += hi - lo
            elif step_iv:
                # toPandas time after its last job: Arrow batches to pandas
                rec["transfer_s"] = max(0.0, (wall_to_ms - max(e for _, e in step_iv)) / 1e3)
            elif "_execute_span" in rec:
                span = self.spans[int(rec["_execute_span"])]
                rec["transfer_s"] = span[2] - span[1]
        rec["covered_s"] = _union_ms(intervals, wall_from_ms, wall_to_ms) / 1e3
        self._read_executions(rec)
        self._rec = None
        self._qid = None
        return rec

    def _spans_into(self, rec) -> None:
        """Outermost span time and call count per layer family."""
        lo = int(rec["_spans_from"])
        for i in range(lo, len(self.spans)):
            name, start, end, parent, _ = self.spans[i]
            if name.startswith("query:") or name in ("build", "execute"):
                continue
            p = parent
            nested = False
            while p is not None and p >= lo:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                rec[f"{name}_calls"] += 1
                rec[f"{name}_s"] += end - start

    def _read_jobs(self, lo: int, hi: int, rec) -> list[tuple[float, float]]:
        from py4j.protocol import Py4JJavaError

        store = self._spark.sparkContext._jsc.sc().statusStore()
        out = []
        for jid in range(lo, hi):
            try:
                job = store.job(jid)
            except Py4JJavaError:  # id taken by a job with no partitions
                continue
            rec["jobs"] += 1
            sub, done = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if sub is not None and done is not None:
                out.append((sub, done))
            ids = job.stageIds().mkString(",")
            for sid in (int(s) for s in ids.split(",") if s):
                for st in _seq(store.stageData(sid, False, None, False, None)):
                    if st.status().toString() == "SKIPPED":
                        continue
                    rec["stages"] += 1
                    rec["tasks"] += st.numCompleteTasks()
                    rec["run_s"] += st.executorRunTime() / 1e3
                    rec["cpu_s"] += st.executorCpuTime() / 1e9
                    rec["gc_s"] += st.jvmGcTime() / 1e3
                    rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    rec["spill_bytes"] += st.diskBytesSpilled()
                    rec["bytes_written"] += st.outputBytes()
        return out

    def _sql_store(self):
        return self._spark._jsparkSession.sharedState().statusStore()

    def _max_exec_id(self) -> int:
        sq = self._sql_store()
        n = sq.executionsCount()
        if n == 0:
            return -1
        return _seq(sq.executionsList(int(n) - 1, 1))[0].executionId()

    def _read_executions(self, rec) -> None:
        sq = self._sql_store()
        new = []
        off = int(sq.executionsCount())
        while off > 0:
            size = min(32, off)
            off -= size
            page = [e.executionId() for e in _seq(sq.executionsList(off, size))]
            new.extend(e for e in page if e > self._last_exec)
            if not page or min(page) <= self._last_exec:
                break
        for eid in sorted(new):
            metrics = sq.executionMetrics(eid)
            for node in _seq(sq.planGraph(eid).allNodes()):
                name = node.name()
                if "Python" not in name and "Pandas" not in name and "Arrow" not in name:
                    continue
                found = False
                for m in _seq(node.metrics()):
                    key = _PY_METRICS.get(m.name())
                    if key is None:
                        continue
                    found = True
                    acc = m.accumulatorId()
                    if metrics.contains(acc):
                        rec[key] += parse_metric(metrics.apply(acc))
                rec["python_nodes"] += found

    def write_spans(self, path: Path) -> None:
        path.write_text(json.dumps(
            [{"name": n, "start": s, "end": e, "parent": p, "query": q}
             for n, s, e, p, q in self.spans]
        ))


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
