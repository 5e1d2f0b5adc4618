"""geo_requests: the control plane serving one table.

Each set-up round builds the pages table, enriched by
``functions.geo.with_geo_columns`` (Arrow tier), with
``write.write_snapshot`` into an ``IcebergishTable`` and registers it as a
``Catalog`` product.  Requests mix three kinds -- ``area`` (bbox + time +
lang through ``Catalog.submit_execute``, result format rotating parquet/json/geojson),
``knn`` (``joins.knn_join`` through ``Catalog.requests.submit``) and
``tiles`` (a subset -> to_tiles TaskList through ``submit_workflow``).
Each request is waited on with the library's ``wait`` and fetched with
``download``.  A closed loop of a few clients gives capacity; an open loop
at a fixed offered rate gives latency, timed from when each request was due.
Every result is checked against the benchmark's oracles after the phases.
"""

from __future__ import annotations

import io
import json
import os
import threading
import time
import zipfile
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from lakebench import common, inputs, oracles
from lakebench.common import median, quantile

CLOSED_CLIENTS = 3
# offered requests per second in the open loop: well below the ~2.5 req/s
# the closed loop reaches on a 4-core host, so latency is service time and
# not queueing behind a backlog
OPEN_RATE = 1.0
OPEN_WORKERS = os.cpu_count() or 4
CLOSED_SHARE = 0.25          # share of --seconds spent in the closed loop
# Request shapes and mix are synthetic: no recorded request log exists to
# take them from.  The kinds alternate 1:1:1 in a fixed cycle, restarted
# each phase, so every run offers the same mix and only the draws within a
# kind vary.  A box of +-0.15 deg (about a metro area), a 7-day window, one
# probe per kNN request with k = 10 and z12 tiles keep each request's Spark
# work small, so per-request fixed costs dominate.
KINDS = ("area", "knn", "tiles")
FORMATS = ("parquet", "json", "geojson")
AREA_HALF_DEG = 0.15
TIME_WINDOW_DAYS = 7
KNN_K = 10
KNN_PROBES = 1
TILE_ZOOM = 12
BUILD_GROUP = "lakebench-build"

# an op is one request: ops_per_s is the closed loop's requests_per_s and
# op_p50_s the open loop's latency_p50_s
END_TO_END = {"setup_s": "s", "nonheap_rss_mb": "MB", "ops_per_s": "1/s",
              "op_p50_s": "s", "latency_p90_s": "s", "area_p50_s": "s",
              "knn_p50_s": "s", "tiles_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "sources.input_bytes_per_row": "bytes",
    "joins.plan_s": "s", "joins.run_s": "s",
    "tiles.rollup_s": "s", "subset.plan_s": "s",
    "subset.rows_examined_per_row": "ratio", "estimate.s": "s",
    "estimate.over_ratio": "ratio", "workflow.plan_s": "s",
    "api.submit_s": "s", "requests.queue_s": "s", "requests.run_s": "s",
    "requests.poll_gap_s": "s", "requests.download_s": "s",
    "requests.store_bytes_per_request": "bytes",
    "sinks.write_s": "s",
    "sinks.bytes_out_per_row": "bytes", "catalog.read_s": "s",
    "catalog.manifests_s": "s", "spark.executor_run_s": "s",
    "spark.fetch_wait_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.cpu_busy_share": "ratio", "jvm.gc_s": "s",
    "jvm.heap_after_gc_mb": "MB", "trace.overhead_op_p50_s": "s",
    # the table build in set-up: the write path and the Arrow UDF tier
    "write.snapshot_s": "s", "metrics.partition_metrics_s": "s",
    "catalog.commit_s": "s", "geo.python_s": "s", "geo.python_boot_s": "s",
    "geo.python_bytes_per_row": "bytes",
}
# differences of two timings: either sign is a valid reading
SIGNED = ("joins.plan_s", "trace.overhead_op_p50_s")


# ---------------------------------------------------------------- requests


class RequestStream:
    """Seeded request specs; centres are table rows, so hot cells are asked
    for in proportion to their density."""

    def __init__(self, seed: int, table: pd.DataFrame, phase: int = 0):
        self.rng = np.random.default_rng([seed, 77, phase])
        self.t = table
        self.n = 0
        self.lock = threading.Lock()

    def next(self) -> dict:
        with self.lock:
            i = self.n
            self.n += 1
            rng = self.rng
            kind = KINDS[i % len(KINDS)]
            rows = rng.integers(0, len(self.t), KNN_PROBES)
            day = int(rng.integers(0, inputs.REQ_DAYS - TIME_WINDOW_DAYS + 1))
        r = self.t.iloc[rows[0]]
        spec = {"i": i, "kind": str(kind)}
        if kind == "knn":
            spec["probes"] = [(j, float(self.t.lat.iat[k]), float(self.t.lon.iat[k]))
                              for j, k in enumerate(rows)]
            return spec
        half_lon = AREA_HALF_DEG / max(np.cos(np.radians(r.lat)), 0.2)
        west, east = r.lon - half_lon, r.lon + half_lon
        west = west + 360.0 if west < -180.0 else west
        east = east - 360.0 if east > 180.0 else east
        start = inputs.REQ_START + np.timedelta64(day, "D")
        stop = start + np.timedelta64(TIME_WINDOW_DAYS, "D")
        spec.update({
            "area": {"north": float(r.lat + AREA_HALF_DEG),
                     "south": float(r.lat - AREA_HALF_DEG),
                     "west": float(west), "east": float(east)},
            "time": {"start": str(start.astype("datetime64[s]")).replace("T", " "),
                     "stop": str(stop.astype("datetime64[s]")).replace("T", " ")},
            "lang": str(r.lang)})
        if kind == "area":
            spec["format"] = FORMATS[i % len(FORMATS)]
        return spec


class Server:
    """The catalog under test plus the calls a client makes."""

    def __init__(self, spark, catalog):
        self.spark, self.catalog = spark, catalog

    def submit(self, spec: dict) -> int:
        from geolake_spark.operators import joins
        cat = self.catalog
        if spec["kind"] == "area":
            q = {"area": spec["area"], "time": spec["time"],
                 "filters": {"lang": spec["lang"]}, "format": spec["format"]}
            return cat.submit_execute("web", "pages", q)
        if spec["kind"] == "tiles":
            tl = [{"id": "s", "op": "subset",
                   "args": {"dataset_id": "web", "product_id": "pages",
                            "query": {"area": spec["area"], "time": spec["time"],
                                      "filters": {"lang": spec["lang"]}}}},
                  {"id": "t", "op": "to_tiles", "use": ["s"],
                   "args": {"zoom": TILE_ZOOM}}]
            return cat.submit_workflow(tl)
        probes = pd.DataFrame(spec["probes"], columns=["query_id", "lat", "lon"])
        product = cat._datasets["web"].products["pages"]

        def plan():
            pts = product.loader(self.spark).select("url", "lat", "lon")
            return joins.knn_join(pts, probes, KNN_K)
        return cat.requests.submit(plan, "web", "pages",
                                   query={"knn": spec["probes"], "k": KNN_K})

    def serve(self, spec: dict, due: float, rec: dict) -> None:
        """submit -> wait -> download, timed from ``due``."""
        rm = self.catalog.requests
        t0 = time.perf_counter()
        rid = self.submit(spec)
        t1 = time.perf_counter()
        status = rm.wait(rid, timeout_s=120.0)
        t2 = time.perf_counter()
        path = self.catalog.download(rid) if status == "DONE" else None
        t3 = time.perf_counter()
        rec.update({"rid": rid, "status": status, "path": path,
                    "submit_s": t1 - t0, "wait_return": t2,
                    "download_s": t3 - t2, "latency_s": t3 - due,
                    "due": due, "start": t0, "end": t3})


# ---------------------------------------------------------------- checks


def _read_result(path: str, fmt: str) -> pd.DataFrame:
    """Rows of a downloaded result: a bare directory or the zip download
    makes of a multi-file one."""
    blobs = []
    if path.endswith(".zip"):
        with zipfile.ZipFile(path) as z:
            for n in z.namelist():
                base = os.path.basename(n)
                if base.startswith((".", "_")):
                    continue
                blobs.append(z.read(n))
    else:
        for dp, _, fs in os.walk(path):
            for fn in sorted(fs):
                if not fn.startswith((".", "_")):
                    with open(os.path.join(dp, fn), "rb") as f:
                        blobs.append(f.read())
    frames = []
    for b in blobs:
        if fmt == "parquet":
            frames.append(pq.read_table(io.BytesIO(b)).to_pandas())
        else:
            lines = [json.loads(x) for x in b.decode().splitlines() if x.strip()]
            if fmt == "geojson":
                lines = [dict(f["properties"], lon=f["geometry"]["coordinates"][0],
                              lat=f["geometry"]["coordinates"][1]) for f in lines]
            frames.append(pd.DataFrame(lines))
    frames = [f for f in frames if len(f)]
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


class Checker:
    """Oracle answers for each request spec, from a pandas copy of the table."""

    def __init__(self, table: pd.DataFrame):
        self.t = table
        self.lat = table.lat.to_numpy()
        self.lon = table.lon.to_numpy()
        self.ts = table.warc_ts.to_numpy().astype("datetime64[us]")
        self.lang = table.lang.to_numpy()
        self.url = table.url.to_numpy().astype(str)

    def mask(self, spec) -> np.ndarray:
        a = spec["area"]
        return (oracles.bbox_mask(self.lat, self.lon, a["south"], a["north"],
                                  a["west"], a["east"])
                & oracles.time_mask(self.ts, spec["time"]["start"].replace(" ", "T"),
                                    spec["time"]["stop"].replace(" ", "T"))
                & oracles.lang_mask(self.lang, [spec["lang"]]))

    def check(self, spec: dict, rec: dict) -> tuple[bool, int]:
        """(correct, result rows)."""
        if rec.get("status") != "DONE":
            return False, 0
        kind = spec["kind"]
        got = _read_result(rec["path"], spec.get("format", "parquet"))
        if kind == "area":
            want = set(self.url[self.mask(spec)])
            have = list(got["url"]) if len(got) else []
            return len(have) == len(want) and set(have) == want, len(have)
        if kind == "tiles":
            m = self.mask(spec)
            want = oracles.tile_counts(self.lat[m], self.lon[m], TILE_ZOOM)
            have = {(int(r.tile_z), int(r.tile_x), int(r.tile_y)): int(r.page_count)
                    for r in got.itertuples()} if len(got) else {}
            return have == want, len(have)
        ok = len(got) == KNN_K * len(spec["probes"])
        for qid, qlat, qlon in spec["probes"]:
            want_ids, want_d = oracles.knn(self.lat, self.lon, self.url, qlat,
                                           qlon, KNN_K)
            mine = got[got.query_id == qid].sort_values("rank")
            ok = ok and list(mine.url) == list(want_ids) and np.allclose(
                mine.dist_km.to_numpy(), want_d, rtol=0, atol=1e-6)
        return bool(ok), len(got)


# ---------------------------------------------------------------- phases


def backlog(recs: list[dict]) -> dict:
    """Signs that the open loop ran behind: the median wait of a due request
    for a free client thread, and the most requests in flight at once."""
    events = sorted([(r["due"], 1) for r in recs] + [(r["end"], -1) for r in recs])
    cur = peak = 0
    for _, step in events:
        cur += step
        peak = max(peak, cur)
    return {"bench.backlog_p50_s": median([r["start"] - r["due"] for r in recs]),
            "bench.peak_in_flight": peak}


def closed_throughput(recs: list[dict], verified: int) -> float:
    """Verified completions per second with all clients busy.  Each client
    sends its next request as soon as one returns, so the clients' summed
    busy time over CLOSED_CLIENTS is the span they all ran; unlike the wall
    span, it leaves out the drain at the end, when some clients have
    stopped and others still wait for a slow request."""
    busy = sum(r["end"] - r["start"] for r in recs)
    return verified * CLOSED_CLIENTS / busy


def closed_loop(server, stream, seconds: float) -> list[dict]:
    recs, lock = [], threading.Lock()
    t_end = time.perf_counter() + seconds

    def client():
        while time.perf_counter() < t_end:
            spec = stream.next()
            rec = {"spec": spec, "phase": "closed"}
            server.serve(spec, time.perf_counter(), rec)
            with lock:
                recs.append(rec)

    threads = [threading.Thread(target=client, name=f"client-{i}")
               for i in range(CLOSED_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return recs


def open_loop(server, stream, seconds: float) -> tuple[list[dict], float]:
    """Requests due every 1/OPEN_RATE s regardless of completions, a whole
    number of kind cycles.  Returns (records, worst generator lag in s)."""
    n = len(KINDS) * max(1, round(seconds * OPEN_RATE / len(KINDS)))
    recs = [{"spec": stream.next(), "phase": "open"} for _ in range(n)]
    lag = 0.0
    with ThreadPoolExecutor(OPEN_WORKERS, thread_name_prefix="open") as pool:
        t0 = time.perf_counter() + 0.05
        futs = []
        for k, rec in enumerate(recs):
            due = t0 + k / OPEN_RATE
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            lag = max(lag, time.perf_counter() - due)
            futs.append(pool.submit(server.serve, rec["spec"], due, rec))
        for f in futs:
            f.result()
    return recs, lag


# ---------------------------------------------------------------- workload


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from geolake_spark import write
    from geolake_spark.api import Catalog, Product
    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.functions import geo

    d = inputs.request_inputs(ctx.checkout, ctx.seed)
    pages_dir = os.path.join(d, "pages")
    table_pd = pq.read_table(pages_dir).to_pandas()
    checker = Checker(table_pd)
    warm_specs = RequestStream(ctx.seed + 1_000_003, table_pd)
    ctx.mark("inputs ready")
    tracer = ctx.tracer

    root = os.path.join(ctx.work, "table")
    rounds = []

    def build(spark):
        """Every round builds the table from the raw pages, enriched with
        the geo column stack (``with_geo_columns``: expression cells plus
        the Arrow-tier UDFs, all written), so the write path is part of
        setup_s; then it opens the table as a restarted service would."""
        k = len(rounds)
        rounds.append(k)
        sc = spark.sparkContext
        sc.setJobGroup(BUILD_GROUP, "geo_requests table build")
        if ctx.trace:
            install_build(tracer)
        try:
            write.write_snapshot(geo.with_geo_columns(spark.read.parquet(pages_dir)),
                                 IcebergishTable(common.fresh_dir(root)), ["lang"])
        finally:
            if ctx.trace:
                tracer.unwrap_all()
        sc.setJobGroup("lakebench-idle", "idle")
        table = IcebergishTable(root)
        cat = Catalog(spark, store_dir=common.fresh_dir(
            os.path.join(ctx.work, f"store-{k}")))

        def loader(s, _t=table):
            return _t.read(s).select("url", F.col("warc_ts").alias("ts"),
                                     "lang", "lat", "lon")
        cat.add_product("web", Product("pages", loader=loader))
        server = Server(spark, cat)
        # Catalog.requests creates its RequestManager lazily and unlocked:
        # two threads racing on first use get two managers writing one
        # requests file.  Create it here, single-threaded, before any client.
        cat.requests
        specs = []                        # warm-up: one of each kind, at once
        for kind in KINDS:
            spec = warm_specs.next()
            while spec["kind"] != kind:
                spec = warm_specs.next()
            specs.append(spec)
        recs = [{} for _ in specs]
        with ThreadPoolExecutor(len(specs)) as pool:
            for f in [pool.submit(server.serve, sp, time.perf_counter(), r)
                      for sp, r in zip(specs, recs)]:
                f.result()
        if any(r["status"] != "DONE" for r in recs):
            raise RuntimeError(f"warm-up request failed: {recs}")
        return server

    setup_s, cold_s, server = common.timed_setup(ctx.host, build, ctx.mark)
    ctx.mark(f"setup done ({setup_s:.2f}s, cold start {cold_s:.2f}s)")
    streams = [RequestStream(ctx.seed, table_pd, phase) for phase in range(2)]
    closed_s = ctx.seconds * CLOSED_SHARE
    open_s = ctx.seconds - closed_s
    with common.HostWindow() as hw, common.MemorySampler(ctx.host) as mem:
        if ctx.trace:
            # untraced open loop first, then the traced one: the overhead
            base, _ = open_loop(server, streams[0], open_s / 2)
            install(tracer, server)
            try:
                gc0 = ctx.host.jvm_gc()[0]
                w0 = time.perf_counter()
                closed = []
                opened, lag = open_loop(server, streams[1], open_s / 2)
                tracer.count("jvm.gc_s", ctx.host.jvm_gc()[0] - gc0)
                tracer.count("window_s", time.perf_counter() - w0)
            finally:
                tracer.unwrap_all()
        else:
            base = []
            closed = closed_loop(server, streams[0], closed_s)
            opened, lag = open_loop(server, streams[1], open_s)
    ctx.mark(f"measured {len(base) + len(closed) + len(opened)} requests")

    c0 = time.perf_counter()
    failed = 0
    for rec in base + closed + opened:
        ok, n = checker.check(rec["spec"], rec)
        rec["ok"], rec["rows"] = ok, n
        failed += not ok
    check_s = time.perf_counter() - c0
    attempted = len(base) + len(closed) + len(opened)
    ctx.host_report = dict(hw.report(), **backlog(opened),
                           **{"bench.check_s": check_s, "bench.generator_lag_s": lag})
    lat = [r["latency_s"] for r in opened]
    by_kind = {k: [r["latency_s"] for r in opened if r["spec"]["kind"] == k]
               for k in KINDS}
    if not ctx.trace:
        verified = sum(r["ok"] for r in closed)
        results = {
            "setup_s": setup_s, "nonheap_rss_mb": mem.peak_mb,
            "ops_per_s": closed_throughput(closed, verified),
            "op_p50_s": median(lat), "latency_p90_s": quantile(lat, 0.9),
            "area_p50_s": median(by_kind["area"]),
            "knn_p50_s": median(by_kind["knn"]),
            "tiles_p50_s": median(by_kind["tiles"])}
        return common.finish(attempted, failed, results, END_TO_END)
    layers = layer_metrics(ctx, server, tracer, base, opened, cold_s)
    ctx.host_report["bench.nonpositive_deltas"] = common.nonpositive(
        layers, ("joins.plan_s",))
    return common.finish(attempted, failed, layers, PER_LAYER, signed=SIGNED)


def install_build(tracer) -> None:
    """The write path the table build takes: snapshot write, lineage
    metrics (looked up by ``write`` under its own name) and the commit."""
    from geolake_spark import metrics, write
    from geolake_spark.catalog import IcebergishTable
    tracer.wrap_function(write, "write_snapshot", "write.write_snapshot")
    tracer.wrap_function(metrics, "partition_metrics", "metrics.partition_metrics")
    tracer.wrap_method(IcebergishTable, "commit", "catalog.commit")


def install(tracer, server) -> None:
    from geolake_spark import api, sinks
    from geolake_spark.catalog import IcebergishTable
    from geolake_spark.operators import joins, subset, tiles
    from geolake_spark.plans import estimate
    from geolake_spark.requests import RequestManager
    transitions = tracer.transitions = []
    orig_update = RequestManager._update

    def _update(self, req, **kw):
        orig_update(self, req, **kw)
        if "status" in kw:
            transitions.append((req.request_id, kw["status"], time.perf_counter()))
    tracer._patches.append((RequestManager, "_update", orig_update))
    RequestManager._update = _update
    tracer.wrap_function(joins, "knn_join", "joins.knn_join")
    tracer.wrap_function(tiles, "rollup_tiles", "tiles.rollup_tiles")
    tracer.wrap_function(subset, "subset", "subset.subset")
    tracer.wrap_function(estimate, "estimate_df_bytes", "estimate.estimate_df_bytes")
    tracer.wrap_function(sinks, "write_result", "sinks.write_result")
    tracer.wrap_method(api.Catalog, "submit_execute", "api.submit_execute")
    tracer.wrap_method(api.Catalog, "submit_workflow", "api.submit_workflow")
    tracer.wrap_method(api.Catalog, "run_workflow", "workflow.run_workflow")
    tracer.wrap_method(IcebergishTable, "manifests", "catalog.manifests")
    tracer.wrap_method(RequestManager, "download", "requests.download")
    product = server.catalog._datasets["web"].products["pages"]
    orig_loader = product.loader

    def loader(s):
        with tracer.span("catalog.read"):
            return orig_loader(s)
    tracer._patches.append((product, "loader", orig_loader))
    product.loader = loader


def layer_metrics(ctx, server, tracer, base, opened, cold_s) -> dict:
    from lakebench.tracing import SparkStatus, arrow_python, scan_bytes_per_row
    st = SparkStatus(ctx.host.spark)
    rm = server.catalog.requests
    groups = {f"geolake-req-{r['rid']}" for r in opened}
    tot = st.stage_totals(groups)
    n = len(opened)
    trans = {}
    for rid, status, t in tracer.transitions:
        trans.setdefault(rid, {})[status] = t
    queue = [tr["RUNNING"] - r["start"] for r in opened
             if (tr := trans.get(r["rid"])) and "RUNNING" in tr]
    run_s = [tr["DONE"] - tr["RUNNING"] for tr in trans.values()
             if "DONE" in tr and "RUNNING" in tr]
    poll = [r["wait_return"] - trans[r["rid"]]["DONE"] for r in opened
            if "DONE" in trans.get(r["rid"], {})]
    # area requests: rows the scans produced per result row
    area = [r for r in opened if r["spec"]["kind"] == "area" and r["rows"]]
    sql = st.sql_metrics({f"geolake-req-{r['rid']}" for r in area})
    scanned = sum(m["value"] for m in sql if m["node"].startswith("Scan")
                  and m["metric"] == "number of output rows")
    reqs = [rm.get_request(r["rid"]) for r in opened]
    est_ratio = [q.estimate_size_bytes / q.size_bytes for q in reqs
                 if q.estimate_size_bytes and q.size_bytes]
    out_rows = sum(r["rows"] for r in opened)
    knn_spans = [s for s in tracer.spans if s["name"] == "joins.knn_join"]
    knn_run = [s["end"] - s["start"] for s in knn_spans]
    knn_plan = []
    jobs = st.jobs({f"geolake-req-{s['request_id']}" for s in knn_spans})
    # Spark stamps jobs in epoch ms; spans are on the perf_counter clock
    epoch = time.time() - time.perf_counter()
    for s in knn_spans:
        s0, s1 = s["start"] + epoch, s["end"] + epoch
        js = [j for j in jobs if j.jobGroup().get() == f"geolake-req-{s['request_id']}"]
        # only the part of the request's jobs inside the knn_join call: the
        # result write after it runs in the same job group
        inside = [(max(s0, j.submissionTime().get().getTime() / 1e3),
                   min(s1, j.completionTime().get().getTime() / 1e3))
                  for j in js if j.completionTime().isDefined()]
        knn_plan.append((s1 - s0) - common.union_length([iv for iv in inside
                                                          if iv[1] > iv[0]]))
    base_lat = [r["latency_s"] for r in base]
    lat = [r["latency_s"] for r in opened]
    md = lambda name: median(tracer.durations(name))  # noqa: E731
    py = arrow_python(st.sql_metrics({BUILD_GROUP}))
    return {
        "session.start_s": cold_s,
        "sources.input_bytes_per_row": scan_bytes_per_row(st.sql_metrics(groups)),
        # kNN: the knn_join call time not covered by its Spark jobs, the call
        "joins.plan_s": median(knn_plan),
        "joins.run_s": median(knn_run),
        "tiles.rollup_s": md("tiles.rollup_tiles"),
        "subset.plan_s": md("subset.subset"),
        "subset.rows_examined_per_row": scanned / max(1, sum(r["rows"] for r in area)),
        "estimate.s": md("estimate.estimate_df_bytes"),
        "estimate.over_ratio": median(est_ratio),
        "workflow.plan_s": md("workflow.run_workflow"),
        "api.submit_s": median([r["submit_s"] for r in opened]),
        "requests.queue_s": median(queue),
        "requests.run_s": median(run_s),
        "requests.poll_gap_s": median(poll),
        "requests.download_s": median([r["download_s"] for r in opened]),
        "requests.store_bytes_per_request": sum(q.size_bytes or 0 for q in reqs) / n,
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "sinks.write_s": md("sinks.write_result"),
        "sinks.bytes_out_per_row": sum(q.size_bytes or 0 for q in reqs) / max(1, out_rows),
        "catalog.read_s": md("catalog.read"),
        "catalog.manifests_s": md("catalog.manifests"),
        "spark.executor_run_s": tot["executor_run_s"] / n,
        "spark.fetch_wait_s": tot["fetch_wait_s"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.cpu_busy_share": tot["executor_cpu_s"] / (tracer.counts["window_s"] * os.cpu_count()),
        "jvm.gc_s": tracer.counts["jvm.gc_s"],
        "jvm.heap_after_gc_mb": ctx.host.jvm_gc()[1],
        "trace.overhead_op_p50_s": median(lat) - median(base_lat),
        "write.snapshot_s": md("write.write_snapshot"),
        "metrics.partition_metrics_s": md("metrics.partition_metrics"),
        "catalog.commit_s": md("catalog.commit"),
        # the last set-up round's table build (earlier rounds' stores went
        # with their sessions)
        "geo.python_s": py["run_s"],
        "geo.python_boot_s": py["boot_s"],
        "geo.python_bytes_per_row": py["bytes"] / inputs.REQ_ROWS,
    }
