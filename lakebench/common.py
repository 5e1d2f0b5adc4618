"""Shared benchmark plumbing: paths and environment, the Spark session's
lifetime, process-tree memory, host validity, percentiles and the result
line.  Nothing here is timed as part of a workload's operations."""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time

DRIVER_MEM = "2g"
SETUP_ROUNDS = 3


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench_dir() -> str:
    return os.path.join(checkout_root(), ".lakebench")


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["GEOLAKE_LOCAL_DIR"] = local
    os.environ["GEOLAKE_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", "python3")


# ---------------------------------------------------------------- statistics


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (the 'inclusive' method)."""
    v = sorted(values)
    if not v:
        raise ValueError("quantile of no values")
    pos = (len(v) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- processes


def _children(pid: int) -> list[int]:
    out = []
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            out = [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def process_tree(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(")")[-1].split()[0] != "Z"
    except OSError:
        return False


class SparkHost:
    """Owns the JVM for one benchmark process: a cold start, cheap session
    restarts on the running JVM, and a full stop that waits for the JVM and
    its Python workers to exit."""

    def __init__(self, app: str):
        self.app = app
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from geolake_spark.session import get_spark
        self.spark = get_spark(self.app, cores=os.cpu_count(), extra_conf={
            "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        gw = self.spark.sparkContext._gateway
        self.jvm_pid = gw.proc.pid if getattr(gw, "proc", None) else None
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def heap_committed(self) -> int:
        jvm = self.spark.sparkContext._jvm
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return int(mx.getHeapMemoryUsage().getCommitted())

    def tree_rss(self) -> int:
        if self.jvm_pid is None:
            return 0
        return sum(rss_bytes(p) for p in process_tree(self.jvm_pid))

    def jvm_gc(self) -> tuple[float, float]:
        """(total GC seconds so far, heap MB in use after the last GC)."""
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in
                    mf.getGarbageCollectorMXBeans())
        after = 0
        for pool in mf.getMemoryPoolMXBeans():
            if str(pool.getType()) == "Heap memory":
                u = pool.getCollectionUsage()
                if u is not None:
                    after += u.getUsed()
        return gc_ms / 1000.0, after / 2 ** 20

    def stop(self, timeout: float = 60.0) -> None:
        """Stop Spark, shut the gateway, and wait for the whole JVM tree."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        tree = process_tree(self.jvm_pid) if self.jvm_pid else []
        gw = SparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout)
                SparkContext._gateway = None
                SparkContext._jvm = None
            deadline = time.time() + timeout
            while any(alive(p) for p in tree) and time.time() < deadline:
                time.sleep(0.05)
            for p in tree:
                if alive(p):
                    os.kill(p, 9)


class MemorySampler:
    """Peak (tree RSS - committed heap) while running, sampled in a thread."""

    def __init__(self, host: SparkHost, period: float = 0.25):
        self.host, self.period = host, period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="rss-sampler",
                                   daemon=True)

    def _sample(self) -> None:
        v = self.host.tree_rss() - self.host.heap_committed()
        self.peak = max(self.peak, v)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20


# ---------------------------------------------------------------- host


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWindow:
    """nproc, load average and CPU steal share over a measured window."""

    def __enter__(self):
        self.t0 = _cpu_times()
        return self

    def __exit__(self, *exc):
        self.t1 = _cpu_times()

    def report(self) -> dict:
        d = [b - a for a, b in zip(self.t0, self.t1)]
        steal = d[7] if len(d) > 7 else 0
        return {"nproc": os.cpu_count(),
                "loadavg_1m": os.getloadavg()[0],
                "steal_share": steal / max(1, sum(d))}


# ---------------------------------------------------------------- setup


def timed_setup(host: SparkHost, build, mark) -> tuple[float, float, object]:
    """Cold JVM start once, then SETUP_ROUNDS rounds of (new SparkSession on
    the running JVM + ``build(spark)``: table open/build and warm-up).
    Returns (setup_s, cold_start_s, last round's build result) where
    setup_s = cold start + the median round.  ``mark(label)`` reports each
    round's time."""
    t0 = time.perf_counter()
    host.start()
    cold = time.perf_counter() - t0
    rounds, state = [], None
    for k in range(SETUP_ROUNDS):
        t = time.perf_counter()
        spark = host.restart()
        state = build(spark)
        rounds.append(time.perf_counter() - t)
        mark(f"set-up round {k} took {rounds[-1]:.2f}s")
    return cold + median(rounds), cold, state


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f))
               for dp, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- result


# The result line carries the metrics BENCHMARK.json lists, under the same
# names for every listed workload.  An "op" is one unit of the workload's
# traffic: a pip_tiles job, a geo_requests request.  Everything else a
# workload measures goes on the ``detail`` line before the result.
RESULT_END_TO_END = {"setup_s": "s", "nonheap_rss_mb": "MB",
                     "ops_per_s": "1/s", "op_p50_s": "s"}
RESULT_PER_LAYER = {
    "session.start_s": "s", "sources.input_bytes_per_row": "bytes",
    "joins.plan_s": "s", "joins.run_s": "s", "sinks.bytes_out_per_row": "bytes",
    "spark.executor_run_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.cpu_busy_share": "ratio", "jvm.heap_after_gc_mb": "MB",
    "trace.overhead_op_p50_s": "s",
}

# per-layer counters that a healthy run can leave at zero: no failed task,
# no spill, no shuffle fetch wait, no collection during a short window, no
# Python worker started (workers started in set-up are reused)
ZERO_OK = frozenset({"spark.failed_tasks", "spark.spill_bytes",
                     "spark.fetch_wait_s", "jvm.gc_s", "geo.python_boot_s"})


def finish(attempted: int, failed: int, metrics: dict[str, float],
           units: dict[str, str], signed=()) -> dict:
    """A workload's outcome; it must report exactly the metrics it declares.
    ``signed`` names the metrics that are differences and may take either
    sign (``trace.overhead_*``, prefix deltas)."""
    if set(metrics) != set(units):
        raise RuntimeError(f"metric names differ: {set(metrics) ^ set(units)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: (v, units[k]) for k, v in metrics.items()},
            "signed": set(signed)}


def split(metrics: dict, names) -> tuple[dict, dict]:
    """(the metrics named in ``names``, in that order; the rest)."""
    return ({k: metrics[k] for k in names if k in metrics},
            {k: v for k, v in metrics.items() if k not in names})


def nonpositive(metrics: dict[str, float], names) -> list[str]:
    """The differenced timings among ``names`` that came out <= 0: noise
    larger than the layer's share, flagged on the host line."""
    return sorted(n for n in names if not metrics[n] > 0)


def metrics_json(metrics: dict[str, tuple[float, str]], signed=()) -> dict:
    """``{name: {value, unit}}``.  A metric that is missing or not finite
    is an error: the run fails rather than report it.  So is a zero
    (except the ``ZERO_OK`` counters) or a negative value (except the
    differences named in ``signed``)."""
    for name, (value, _unit) in metrics.items():
        bad = value is None or not math.isfinite(value)
        if not bad and name not in signed:
            bad = value < 0 or (value == 0 and name not in ZERO_OK)
        if bad:
            raise RuntimeError(f"metric {name} has no valid value: {value!r}")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]], signed=()) -> str:
    """The final stdout line, checked as ``metrics_json`` checks."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed), "metrics": metrics_json(metrics, signed)})
