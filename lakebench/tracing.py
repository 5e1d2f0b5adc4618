"""Tracing from outside the program.

* :class:`Tracer` records spans (name, start, end, parent, request id) in
  memory, around calls into public ``geolake_spark`` functions that the
  benchmark wraps; spans are written to a JSON file at exit.
* :func:`self_times` turns spans into per-layer self time.
* :class:`SparkStatus` reads Spark's own status stores (AppStatusStore
  jobs/stages and the SQL store's per-operator metrics) by job group.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import threading
import time
from collections import defaultdict

from lakebench.common import union_length

_REQ_THREAD = re.compile(r"geolake-req-(\d+)")


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.counts: dict[str, float] = defaultdict(float)

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> int:
        """Record a span start.  The request id comes from the
        ``geolake-req-<id>`` worker thread the library runs a request on."""
        m = _REQ_THREAD.match(threading.current_thread().name)
        st = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": st[-1] if st else None,
               "request_id": int(m.group(1)) if m else None,
               "thread": threading.current_thread().name}
        with self._lock:
            self.spans.append(rec)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack().pop()

    def count(self, name: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[name] += value

    # -- wrapping ----------------------------------------------------------

    def wrap_function(self, module, attr: str, span_name: str,
                      count=None) -> None:
        """Replace ``module.attr`` with a spanned wrapper in the defining
        module and in every loaded ``geolake_spark`` module that bound the
        same function object by ``from ... import`` (the caller's lookup).
        ``count(result)`` returns {counter name: amount} to add."""
        orig = getattr(module, attr)
        wrapper = self._wrapper(orig, span_name, count)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not (name.startswith("geolake_spark") or mod is module):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._patches.append((mod, k, v))
                    setattr(mod, k, wrapper)

    def wrap_method(self, cls, attr: str, span_name: str,
                    count=None) -> None:
        orig = cls.__dict__[attr]
        self._patches.append((cls, attr, orig))
        setattr(cls, attr, self._wrapper(orig, span_name, count))

    def _wrapper(self, fn, span_name: str, count=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(span_name):
                result = fn(*a, **kw)
            if count is not None:
                for k, v in count(result).items():
                    tracer.count(k, v)
            return result
        return traced

    def unwrap_all(self) -> None:
        for obj, k, v in reversed(self._patches):
            setattr(obj, k, v)
        self._patches.clear()

    # -- output ------------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: sum over its spans of (duration - the part of its
    interval covered by its direct children)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if s["end"] is None:
            continue
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids[i]]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


# ---------------------------------------------------------------- Spark status

_DUR = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}
_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}


def parse_metric(text: str) -> float | None:
    """Value of one SQL metric string: plain sums ('1,234'), or the 'total'
    line of timing/size metrics ('1.2 s (...)', '3.4 MiB (...)').  None
    when the string holds no number."""
    lines = [x.strip() for x in text.strip().splitlines()]
    # header lines such as 'total (min, med, max ...)' carry no value
    t = next((x for x in lines if x[:1].isdigit() or x[:1] == "-"), None)
    if t is None:
        return None
    t = t.split(" (")[0].strip().replace(",", "")
    parts = t.split()
    if len(parts) == 1:
        return float(parts[0])
    num, unit = float(parts[0]), parts[1]
    if unit in _DUR:
        return num * _DUR[unit]
    return num * _SIZE[unit]


class SparkStatus:
    """Per job group figures from the status stores (UI disabled works)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _seq(self, seq) -> list:
        it = seq.iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    def jobs(self, groups: set[str] | None = None) -> list:
        out = []
        for j in self._seq(self.store.jobsList(None)):
            g = j.jobGroup()
            gid = g.get() if g.isDefined() else None
            if groups is None or gid in groups:
                out.append(j)
        return out

    def stage_totals(self, groups: set[str]) -> dict[str, float]:
        """Summed stage figures over every job of ``groups``."""
        jobs = self.jobs(groups)
        stage_ids = set()
        tasks = 0
        for j in jobs:
            tasks += int(j.numTasks())
            for s in self._seq(j.stageIds()):
                stage_ids.add(int(s))
        tot = defaultdict(float)
        empty = self.jvm.java.util.ArrayList()
        no_quantiles = self.spark.sparkContext._gateway.new_array(self.jvm.double, 0)
        for sid in stage_ids:
            for st in self._seq(self.store.stageData(sid, False, empty, False,
                                                     no_quantiles)):
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                tot["fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                tot["failed_tasks"] += st.numFailedTasks()
                tot["input_bytes"] += st.inputBytes()
                tot["input_records"] += st.inputRecords()
                tot["gc_s"] += st.jvmGcTime() / 1e3
        tot["jobs"] = len(jobs)
        tot["tasks"] = tasks
        return dict(tot)

    def sql_metrics(self, groups: set[str]) -> list[dict]:
        """Per SQL operator metrics of executions whose jobs belong to
        ``groups``: [{node, metric, value}]."""
        job_ids = {int(j.jobId()) for j in self.jobs(groups)}
        out = []
        for ex in self._seq(self.sql.executionsList()):
            ex_jobs = {int(k) for k in self._seq(ex.jobs().keys())}
            if not ex_jobs & job_ids:
                continue
            eid = ex.executionId()
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid)
            for node in self._seq(graph.allNodes()):
                for m in self._seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    value = parse_metric(v.get()) if v.isDefined() else None
                    if value is not None:
                        out.append({"node": node.name(), "metric": m.name(),
                                    "value": value})
        return out


def arrow_python(sql: list[dict]) -> dict[str, float]:
    """Spark's Arrow Python UDF figures (``ArrowEvalPython`` operators)
    summed over ``SparkStatus.sql_metrics`` rows: run and worker start
    seconds, and bytes sent to plus returned from the Python workers."""
    def total(metric):
        return sum(m["value"] for m in sql if m["node"] == "ArrowEvalPython"
                   and m["metric"] == metric)
    return {"run_s": total("time to run Python workers"),
            "boot_s": total("time to start Python workers"),
            "bytes": total("data sent to Python workers")
            + total("data returned from Python workers")}


def scan_bytes_per_row(sql: list[dict]) -> float:
    """File bytes read per row produced, over the file scan operators in
    ``SparkStatus.sql_metrics`` rows."""
    scan = [m for m in sql if m["node"].startswith("Scan")]
    size = sum(m["value"] for m in scan if m["metric"] == "size of files read")
    rows = sum(m["value"] for m in scan if m["metric"] == "number of output rows")
    return size / rows
