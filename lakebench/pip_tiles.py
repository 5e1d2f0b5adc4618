"""pip_tiles: the north-star batch job in a closed loop, one job at a time.

Each job scans the pages table, assigns grid cells (expression tier),
joins the seeded polygon set with ``operators.joins.pip_join``, rolls the
matches up to z8 tiles per polygon (``operators.tiles``) and writes the
small result with ``sinks.write_result``.  Every job builds a fresh
DataFrame and every result is checked against the cached NumPy oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from lakebench import common, inputs
from lakebench.common import median

ZOOM = 8
# metrics this workload reports (untraced / traced); an op is one job
END_TO_END = {"setup_s": "s", "nonheap_rss_mb": "MB", "ops_per_s": "1/s",
              "op_p50_s": "s", "rows_per_s": "rows/s"}
PER_LAYER = {
    "session.start_s": "s", "sources.scan_s": "s",
    "sources.input_bytes_per_row": "bytes", "geo.cells_s": "s",
    "joins.plan_s": "s", "joins.run_s": "s", "joins.cover_cells": "count",
    "joins.pip_candidate_rows": "count", "joins.pip_match_ratio": "ratio",
    "tiles.rollup_s": "s", "tiles.shuffle_bytes": "bytes",
    "tiles.out_rows": "count", "sinks.write_s": "s",
    "sinks.bytes_out_per_row": "bytes", "spark.executor_run_s": "s",
    "spark.fetch_wait_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "spark.cpu_busy_share": "ratio", "jvm.gc_s": "s",
    "jvm.heap_after_gc_mb": "MB", "trace.overhead_op_p50_s": "s",
}
# timings taken as the difference of two runs: either sign can be read, and
# a value <= 0 (noise larger than the layer's share) is flagged on the host line
DELTAS = ("geo.cells_s", "joins.run_s", "tiles.rollup_s", "sinks.write_s")


class Job:
    """One pip_tiles job and its lazy prefixes."""

    def __init__(self, spark, pages_dir: str, polygons: list[dict]):
        from pyspark.sql import functions as F

        from geolake_spark.functions import geo
        from geolake_spark.operators import joins, tiles
        self.spark, self.F = spark, F
        self.pages_dir, self.polygons = pages_dir, polygons
        self.geo, self.joins, self.tiles = geo, joins, tiles

    # each stage builds on a fresh scan: AQE reuses materialized stages on a
    # reused DataFrame object, which would turn repeat timings into no-ops
    def scan(self, paths=None):
        return self.spark.read.parquet(*(paths or [self.pages_dir]))

    def cells(self, paths=None):
        F = self.F
        self.res = self.joins.choose_pip_res(self.polygons)
        return self.scan(paths).withColumn(
            "cell", self.geo.grid_cell_col(F.col("lat"), F.col("lon"), self.res))

    def pip(self, paths=None):
        pts = self.cells(paths)
        return self.joins.pip_join(pts, self.polygons, res=self.res,
                                   cell_col="cell")

    def rollup(self, paths=None):
        F = self.F
        return (self.tiles.assign_tiles(self.pip(paths), ZOOM)
                .groupBy("polygon_id", "tile_z", "tile_x", "tile_y")
                .agg(F.count("*").alias("page_count")))

    def full(self, out_dir: str, paths=None) -> None:
        from geolake_spark import sinks
        sinks.write_result(self.rollup(paths), out_dir)

    # prefixes consume exactly the columns the full job consumes
    def run_prefix(self, stage: str) -> None:
        F = self.F
        if stage == "scan":
            self.scan().agg(F.sum("lat"), F.sum("lon")).collect()
        elif stage == "cells":
            self.cells().agg(F.sum("lat"), F.sum("lon"),
                             F.bit_xor("cell")).collect()
        elif stage == "pip":
            self.pip().agg(F.count("*"), F.sum("lat"), F.sum("lon"),
                           F.sum("polygon_id")).collect()
        elif stage == "rollup":
            self.rollup().agg(F.count("*"), F.sum("page_count"),
                              F.sum("tile_x"), F.sum("tile_y")).collect()
        else:
            raise ValueError(stage)


def load_oracle(d: str) -> dict:
    z = np.load(os.path.join(d, "oracle.npz"))
    return {(int(p), ZOOM, int(x), int(y)): int(c) for p, x, y, c in
            zip(z["polygon_id"], z["tile_x"], z["tile_y"], z["count"])}


def check(out_dir: str, oracle: dict) -> tuple[bool, int]:
    t = pq.read_table(out_dir).to_pandas()
    got = {(int(r.polygon_id), int(r.tile_z), int(r.tile_x), int(r.tile_y)):
           int(r.page_count) for r in t.itertuples()}
    return got == oracle and len(got) > 0, len(got)


def run(ctx) -> dict:
    d = inputs.pip_inputs(ctx.checkout, ctx.seed)
    pages_dir = os.path.join(d, "pages")
    with open(os.path.join(d, "polygons.json")) as f:
        polygons = json.load(f)
    oracle = load_oracle(d)
    n_rows = inputs.PIP_ROWS
    warm_paths = [os.path.join(d, "warm")]
    ctx.mark("inputs ready")

    def build(spark):
        job = Job(spark, pages_dir, polygons)
        job.scan().schema  # table open
        job.full(common.fresh_dir(os.path.join(ctx.work, "warm")), warm_paths)
        return job

    setup_s, cold_s, _ = common.timed_setup(ctx.host, build, ctx.mark)
    ctx.mark(f"setup done ({setup_s:.2f}s, cold start {cold_s:.2f}s)")
    spark = ctx.host.spark
    sc = spark.sparkContext
    out = {"attempted": 0, "failed": 0, "check_s": 0.0}
    times = {"untraced": [], "traced": []}
    iters = []          # per traced iteration: prefix times and the full job
    full_groups = []
    tracer = ctx.tracer

    def one_job(traced: bool) -> None:
        i = out["attempted"]
        g = f"lakebench-job-{i}"
        sc.setJobGroup(g, "pip_tiles job")
        out_dir = os.path.join(ctx.work, f"out-{i}")
        gc0 = ctx.host.jvm_gc()[0] if traced else 0.0
        t0 = time.perf_counter()
        if traced:
            with tracer.span("pip_tiles.job"):
                Job(spark, pages_dir, polygons).full(out_dir)
        else:
            Job(spark, pages_dir, polygons).full(out_dir)
        dt = time.perf_counter() - t0
        if traced:
            tracer.count("jvm.gc_s", ctx.host.jvm_gc()[0] - gc0)
        out["attempted"] += 1
        c0 = time.perf_counter()
        ok, n_out = check(out_dir, oracle)
        out["check_s"] += time.perf_counter() - c0
        out["out_rows"] = n_out
        out["bytes_out"] = common.dir_bytes(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        if not ok:
            out["failed"] += 1
        times["traced" if traced else "untraced"].append(dt)
        if traced:
            full_groups.append(g)

    def prefixes() -> dict:
        out = {}
        for stage in ("scan", "cells", "pip", "rollup"):
            sc.setJobGroup(f"lakebench-prefix-{stage}-{len(iters)}", "pip_tiles prefix")
            t0 = time.perf_counter()
            Job(spark, pages_dir, polygons).run_prefix(stage)
            out[stage] = time.perf_counter() - t0
        return out

    t_start = time.perf_counter()
    with common.HostWindow() as hw, common.MemorySampler(ctx.host) as mem:
        if not ctx.trace:
            while (time.perf_counter() - t_start < ctx.seconds
                   or out["attempted"] < 3):
                one_job(False)
        else:
            # each prefix's plan compiles on its first run; run them once
            # untimed so the first traced iteration does not pay for it
            prefixes()
            install(tracer)
            try:
                while (time.perf_counter() - t_start < ctx.seconds
                       or len(times["traced"]) < 2):
                    tracer.unwrap_all()
                    one_job(False)
                    install(tracer)
                    one_job(True)
                    iters.append(dict(prefixes(), job=times["traced"][-1]))
            finally:
                tracer.unwrap_all()
    sc.setJobGroup("lakebench-idle", "idle")
    ctx.mark(f"measured {out['attempted']} jobs: "
             + " ".join(f"{t:.2f}" for t in times["untraced"] + times["traced"]))
    ctx.host_report = dict(hw.report(), **{"bench.check_s": out["check_s"]})

    if not ctx.trace:
        job_times = times["untraced"]
        metrics = {
            "setup_s": setup_s, "nonheap_rss_mb": mem.peak_mb,
            "ops_per_s": len(job_times) / sum(job_times),
            "op_p50_s": median(job_times),
            "rows_per_s": n_rows * len(job_times) / sum(job_times)}
        return common.finish(out["attempted"], out["failed"], metrics, END_TO_END)

    from lakebench.tracing import SparkStatus, scan_bytes_per_row
    st = SparkStatus(spark)
    full = st.stage_totals(set(full_groups))
    n_full = len(full_groups)
    # candidates: pages whose cell is in the polygon cover (the rows the
    # broadcast join emits before the exact test), counted from outside
    job = Job(spark, pages_dir, polygons)
    per_cell = {r["cell"]: r["count"] for r in
                job.cells().groupBy("cell").count().collect()}
    cover = job.joins.build_pip_cover(polygons, job.res)
    cand = sum(per_cell.get(int(c), 0) for c in cover["cell"])
    matched = sum(oracle.values())
    def delta(hi: str, lo: str) -> float:
        """Median over iterations of the paired difference, so host drift
        between iterations cancels."""
        return median([it[hi] - it[lo] for it in iters])
    job_p50 = median(times["traced"])
    metrics = {
        "session.start_s": cold_s,
        "sources.scan_s": median([it["scan"] for it in iters]),
        "sources.input_bytes_per_row": scan_bytes_per_row(st.sql_metrics(set(full_groups))),
        "geo.cells_s": delta("cells", "scan"),
        # the pip_join call (resolution choice + cover), then the PIP prefix
        "joins.plan_s": median(tracer.durations("joins.pip_join")),
        "joins.run_s": delta("pip", "cells"),
        "joins.cover_cells": len(cover),
        "joins.pip_candidate_rows": cand,
        "joins.pip_match_ratio": matched / cand,
        "tiles.rollup_s": delta("rollup", "pip"),
        "tiles.shuffle_bytes": full["shuffle_write_bytes"] / n_full,
        "tiles.out_rows": out["out_rows"],
        "sinks.write_s": delta("job", "rollup"),
        "sinks.bytes_out_per_row": out["bytes_out"] / max(1, out["out_rows"]),
        "spark.executor_run_s": full["executor_run_s"] / n_full,
        "spark.fetch_wait_s": full["fetch_wait_s"] / n_full,
        "spark.shuffle_write_bytes": full["shuffle_write_bytes"] / n_full,
        "spark.spill_bytes": full["spill_bytes"] / n_full,
        "spark.failed_tasks": full["failed_tasks"],
        "spark.jobs_per_op": full["jobs"] / n_full,
        "spark.tasks_per_op": full["tasks"] / n_full,
        "spark.cpu_busy_share": full["executor_cpu_s"] / (sum(times["traced"]) * os.cpu_count()),
        "jvm.gc_s": tracer.counts["jvm.gc_s"] / n_full,
        "jvm.heap_after_gc_mb": ctx.host.jvm_gc()[1],
        "trace.overhead_op_p50_s": job_p50 - median(times["untraced"]),
    }
    ctx.host_report["bench.nonpositive_deltas"] = common.nonpositive(metrics, DELTAS)
    return common.finish(out["attempted"], out["failed"], metrics, PER_LAYER,
                         signed=DELTAS + ("trace.overhead_op_p50_s",))


def install(tracer) -> None:
    from geolake_spark import sinks
    from geolake_spark.operators import joins, tiles
    tracer.wrap_function(joins, "pip_join", "joins.pip_join")
    tracer.wrap_function(joins, "build_pip_cover", "joins.build_pip_cover")
    tracer.wrap_function(tiles, "assign_tiles", "tiles.assign_tiles")
    tracer.wrap_function(sinks, "write_result", "sinks.write_result")
