"""Async request/job state machine (the reference's flagship UX).

PENDING -> RUNNING -> DONE / FAILED / TIMEOUT per request, polled and
downloaded as in the reference (dbmanager.py:42-49,102-132; api/app/main.py):

* requests queue on one FIFO served by at most ``defaultParallelism`` daemon
  workers that exit when it empties (the reference bounds in-flight work
  with broker prefetch, executor/app/main.py:424);
* each runs under its own Spark job group, so a timeout cancels the cluster
  work (``cancelJobGroup``); results are written under the store directory;
* every state change appends one record to ``requests.jsonl``; a restarted
  driver folds it (last record per id wins) and compacts it once.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
from collections import deque
from dataclasses import asdict, dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession

from geolake_spark.sinks import write_result


class RequestStatus(str, Enum):
    """dbmanager.py:42-49 (auto-enum there; stable strings here)."""
    PENDING = "PENDING"
    RUNNING = "RUNNING"
    DONE = "DONE"
    FAILED = "FAILED"
    TIMEOUT = "TIMEOUT"


@dataclass
class Request:
    request_id: int
    dataset: str
    product: str
    query: dict | None
    user_id: str = "anonymous"
    status: str = RequestStatus.PENDING.value
    created_on: float = field(default_factory=time.time)
    last_update: float = field(default_factory=time.time)
    fail_reason: str | None = None
    estimate_size_bytes: int | None = None
    download_uri: str | None = None
    size_bytes: int | None = None

    @staticmethod
    def _human(n: int | None) -> str | None:
        if n is None:
            return None
        from geolake_spark.plans.estimate import human_size
        val, unit = human_size(n)
        return f"{val} {unit}"

    @property
    def estimate_human(self) -> str | None:
        """Pre-run size estimate, unit-formatted like the reference's
        request rows (api_utils.py size formatting)."""
        return self._human(self.estimate_size_bytes)

    @property
    def size_human(self) -> str | None:
        """Final materialized size, unit-formatted."""
        return self._human(self.size_bytes)


_LIVE = (RequestStatus.PENDING.value, RequestStatus.RUNNING.value)


class RequestManager:
    """Submit, track, time out and download query jobs.  ``submit`` takes a
    zero-arg callable returning a DataFrame (Catalog.execute/run_workflow
    plans), returns the id at once and a worker materializes the result."""

    def __init__(self, spark: SparkSession, store_dir: str):
        self.spark = spark
        self.store_dir = store_dir
        os.makedirs(store_dir, exist_ok=True)
        self._lock = threading.Lock()
        self._changed = threading.Condition(self._lock)
        self._requests: dict[int, Request] = {}
        self._queue: deque[tuple] = deque()
        self._workers = 0
        self._max_workers = spark.sparkContext.defaultParallelism
        self._store_file = os.path.join(store_dir, "requests.jsonl")
        self._load()

    # -- persistence ----------------------------------------------------------

    def _load(self) -> None:
        lines = []
        if os.path.exists(self._store_file):
            with open(self._store_file) as f:
                lines = [ln for ln in f.read().splitlines() if ln.strip()]
        for i, line in enumerate(lines):
            try:
                r = Request(**json.loads(line))
            except json.JSONDecodeError:
                if i < len(lines) - 1:
                    raise
                break  # the final append was torn by a crash
            # a restart orphans in-flight work: surface it as FAILED
            if r.status in _LIVE:
                r.status = RequestStatus.FAILED.value
                r.fail_reason = "driver restarted mid-request"
            self._requests[r.request_id] = r  # the last record per id wins
        self._next_id = max(self._requests, default=0) + 1
        tmp = self._store_file + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(json.dumps(asdict(r)) + "\n"
                         for r in self._requests.values())
        os.replace(tmp, self._store_file)

    def _append(self, req: Request) -> None:
        with open(self._store_file, "a") as f:
            f.write(json.dumps(asdict(req)) + "\n")

    def _update(self, req: Request, **kw) -> None:
        """The single state transition: apply, wake waiters, log."""
        with self._lock:
            for k, v in kw.items():
                setattr(req, k, v)
            req.last_update = time.time()
            self._changed.notify_all()
            self._append(req)

    # -- submission -----------------------------------------------------------

    def submit(self, plan, dataset: str, product: str,
               query: dict | None = None, user_id: str = "anonymous",
               estimate_size_bytes: int | None = None,
               timeout_s: float | None = None,
               result_format: str | None = None) -> int:
        """Queue ``plan()`` (-> DataFrame) for a worker; returns the id.

        The worker tags its Spark jobs with group ``geolake-req-<id>``; on
        timeout a timer cancels that job group, which aborts the running
        stages cluster-wide and fails the write.  ``result_format`` routes
        the sink (parquet | json | geojson — sinks.write_result)."""
        with self._lock:
            rid = self._next_id
            self._next_id += 1
            req = Request(request_id=rid, dataset=dataset, product=product,
                          query=query, user_id=user_id,
                          estimate_size_bytes=estimate_size_bytes)
            self._requests[rid] = req
            self._append(req)
            self._queue.append((req, plan, timeout_s, result_format))
            if self._workers < self._max_workers:
                self._workers += 1
                threading.Thread(target=self._work, daemon=True).start()
        return rid

    def _work(self) -> None:
        while True:
            with self._lock:
                if not self._queue:
                    self._workers -= 1
                    return
                job = self._queue.popleft()
            try:
                self._run(*job)
            except Exception:  # noqa: BLE001 — unwritable log; serve on
                traceback.print_exc()

    def _run(self, req: Request, plan, timeout_s: float | None,
             result_format: str | None) -> None:
        rid = req.request_id
        group = f"geolake-req-{rid}"
        threading.current_thread().name = group
        sc = self.spark.sparkContext
        timer = (threading.Timer(timeout_s, sc.cancelJobGroup, [group])
                 if timeout_s else None)
        t0 = time.monotonic()
        try:
            try:
                self._update(req, status=RequestStatus.RUNNING.value)
                sc.setJobGroup(group, f"request {rid} ({req.dataset}/"
                               f"{req.product})", interruptOnCancel=True)
                if timer:
                    timer.start()
                df = plan()
                if not isinstance(df, DataFrame):
                    raise TypeError("plan() must return a DataFrame")
                out = os.path.join(self.store_dir, f"request-{rid}")
                write_result(df, out, result_format)
                final = {"status": RequestStatus.DONE.value, "download_uri": out,
                         "size_bytes": sum(os.path.getsize(os.path.join(d, fn))
                                           for d, _, fns in os.walk(out)
                                           for fn in fns)}
            finally:
                if timer:
                    timer.cancel()
                # the worker outlives the request, so no dead-thread sweep
                # frees its dedup tiers; none exist if dedup never loaded
                dedup = sys.modules.get("geolake_spark.operators.dedup")
                if dedup is not None:
                    dedup.release_caches()
                # PySpark 4 has no clearJobGroup; None drops the property
                for prop in ("spark.jobGroup.id", "spark.job.description",
                             "spark.job.interruptOnCancel"):
                    sc.setLocalProperty(prop, None)
        except Exception as exc:  # noqa: BLE001 — job boundary: serve on
            if timer and time.monotonic() - t0 >= timeout_s:  # timer fired
                final = {"status": RequestStatus.TIMEOUT.value,
                         "fail_reason": f"timed out after {timeout_s}s"}
            else:
                final = {"status": RequestStatus.FAILED.value,
                         "fail_reason": "".join(traceback.format_exception_only(
                             exc)).strip()[:1000]}
        self._update(req, **final)

    # -- polling / download (api/app/main.py:256-357) --------------------------

    def get_request(self, request_id: int) -> Request:
        return self._requests[request_id]

    def get_request_status(self, request_id: int) -> tuple[str, str | None]:
        r = self._requests[request_id]
        return r.status, r.fail_reason

    def get_requests(self, user_id: str | None = None) -> list[Request]:
        return [r for r in sorted(self._requests.values(),
                                  key=lambda r: r.request_id)
                if user_id is None or r.user_id == user_id]

    def get_request_size(self, request_id: int) -> int | None:
        return self._requests[request_id].size_bytes

    def download(self, request_id: int, as_zip: bool | None = None) -> str:
        """Result location for a DONE request (GET /download/{id}); raises
        for any other state (the 404 path).  ``as_zip=None`` zips a result
        with more than one data file, as the reference executor does
        (executor/app/main.py:186-195); ``_SUCCESS`` and dotfiles do not
        count but are zipped too.  ``True``/``False`` force either form;
        the zip is built once and cached next to the result."""
        r = self._requests[request_id]
        if r.status != RequestStatus.DONE.value or not r.download_uri:
            raise FileNotFoundError(
                f"request {request_id} is {r.status}, no result to download")
        if as_zip is None:
            data_files = [fn for dp, _, fns in os.walk(r.download_uri)
                          for fn in fns
                          if fn != "_SUCCESS" and not fn.startswith(".")]
            as_zip = len(data_files) > 1
        if not as_zip:
            return r.download_uri
        zpath = os.path.join(self.store_dir, f"request-{request_id}.zip")
        if not os.path.exists(zpath):
            import zipfile
            tmp = zpath + ".tmp"
            with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
                for dp, _, fns in os.walk(r.download_uri):
                    for fn in sorted(fns):
                        full = os.path.join(dp, fn)
                        z.write(full, os.path.relpath(full, r.download_uri))
            os.replace(tmp, zpath)
        return zpath

    def wait(self, request_id: int, timeout_s: float = 300.0) -> str:
        """Block until the request leaves PENDING/RUNNING; returns status."""
        req = self._requests[request_id]
        with self._changed:
            if not self._changed.wait_for(lambda: req.status not in _LIVE,
                                          timeout_s):
                raise TimeoutError(f"request {request_id} still running")
            return req.status
