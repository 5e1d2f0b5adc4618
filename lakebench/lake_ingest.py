"""lake_ingest: writes beside reads on one table that keeps growing.

Most rounds append one new day of raw pages, enriched by
``functions.geo.with_geo_columns`` (expression cells + Arrow-tier packed
cells and S2 + tiles, all written, so Catalyst cannot prune the UDFs) and
committed with ``write.write_snapshot`` partitioned by (day, coarse cell).
Every MERGE_EVERY-th round is a ``write.merge_snapshot`` recrawl that
upserts and deletes.  After each commit a reader runs
``IcebergishTable.read_where`` (stat-pruned) and ``read_changes``, both
checked against the pandas table state.  Every MAINT_EVERY rounds,
``expire_snapshots`` and ``compact_partition`` run.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lakebench import common, inputs, oracles
from lakebench.common import median

MERGE_EVERY = 3
MAINT_EVERY = 4
MAX_ROUNDS = 24
READ_BAND_DEG = 12.0
PARTITION_COLS = ["day", "coarse"]
RAW_COLS = ["url", "warc_ts", "html", "text", "lang", "lat", "lon"]

# an op is one commit round (append or merge)
END_TO_END = {"setup_s": "s", "nonheap_rss_mb": "MB", "ops_per_s": "1/s",
              "op_p50_s": "s", "rows_per_s": "rows/s",
              "append_p50_s": "s", "merge_p50_s": "s", "read_p50_s": "s",
              "stored_bytes_per_row": "bytes"}
PER_LAYER = {
    "session.start_s": "s", "geo.python_s": "s", "geo.python_boot_s": "s",
    "geo.python_bytes_per_row": "bytes", "catalog.manifests_s": "s",
    "catalog.manifests_per_commit": "count", "catalog.commit_s": "s",
    "catalog.prune_ratio": "ratio", "catalog.read_where_s": "s",
    "catalog.read_changes_s": "s", "catalog.metadata_bytes": "bytes",
    "catalog.expire_s": "s", "catalog.compact_s": "s",
    "catalog.compact_bytes_rewritten": "bytes", "write.snapshot_s": "s",
    "write.merge_s": "s", "write.files_per_partition": "count",
    "write.bytes_per_input_byte": "ratio",
    "write.merge_rows_rewritten_per_changed_row": "ratio",
    "metrics.partition_metrics_s": "s", "spark.executor_run_s": "s",
    "spark.fetch_wait_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.failed_tasks": "count",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "sources.input_bytes_per_row": "bytes",
    "spark.cpu_busy_share": "ratio", "jvm.gc_s": "s",
    "jvm.heap_after_gc_mb": "MB", "trace.overhead_op_p50_s": "s",
}


def coarse_cell(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """Resolution-0 grid cell id (8 x 4 cells of 45 degrees)."""
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * 8), 0, 7).astype(np.int64)
    iy = np.clip(np.floor((90.0 - lat) / 180.0 * 4), 0, 3).astype(np.int64)
    return iy * (1 << 28) + ix


def with_keys(t: pd.DataFrame) -> pd.DataFrame:
    t = t.copy()
    t["day"] = t.warc_ts.dt.strftime("%Y%m%d").astype(np.int32)
    t["coarse"] = coarse_cell(t.lat.to_numpy(), t.lon.to_numpy())
    return t


def enrich(df):
    """Partition keys (expression tier) + the geo column stack."""
    from pyspark.sql import functions as F

    from geolake_spark.functions import geo
    # an int day key: a 'yyyy-MM-dd' string partition value reads back as a
    # date, which the manifest JSON cannot hold
    df = (df.withColumn("day", F.date_format("warc_ts", "yyyyMMdd").cast("int"))
          .withColumn("coarse", geo.grid_cell_col(F.col("lat"), F.col("lon"), 0)))
    return geo.with_geo_columns(df)


class Lake:
    """The table, its oracle state and the operations a round performs."""

    def __init__(self, spark, root: str, work: str, seed: int, days_dir: str):
        from geolake_spark.catalog import IcebergishTable
        self.spark, self.work, self.seed = spark, work, seed
        self.days_dir = days_dir
        self.table = IcebergishTable(common.fresh_dir(root))
        self.state = oracles.TableState("url")
        self.next_day = 0
        self.input_bytes = 0
        self.rng = np.random.default_rng([seed, 55])

    def reopen(self, spark) -> None:
        from geolake_spark.catalog import IcebergishTable
        self.spark = spark
        self.table = IcebergishTable(self.table.root)

    def partitions(self) -> set:
        return set(zip(self.state.df.day, self.state.df.coarse))

    def day_path(self, day: int) -> str:
        return os.path.join(self.days_dir, f"day-{day:03d}.parquet")

    def append(self) -> tuple[int, set]:
        """One new day; returns (rows, partitions touched)."""
        from geolake_spark import write
        path = self.day_path(self.next_day)
        self.next_day += 1
        self.input_bytes += os.path.getsize(path)
        write.write_snapshot(enrich(self.spark.read.parquet(path)), self.table,
                             PARTITION_COLS)
        rows = with_keys(pq.read_table(path).to_pandas())
        self.state.append(rows)
        return len(rows), set(zip(rows.day, rows.coarse))

    def merge(self, round_no: int) -> tuple[int, set, int]:
        """Recrawl: upsert re-fetched rows, delete gone ones.  Returns
        (changed rows, partitions touched, rows in rewritten partitions)."""
        from geolake_spark import write
        live = self.state.df
        up_i, del_i = inputs.recrawl(self.seed, round_no, len(live))
        up = live.iloc[up_i][RAW_COLS].copy()
        secs = self.rng.integers(0, 86400, len(up)).astype("timedelta64[s]")
        up["warc_ts"] = (up.warc_ts.dt.floor("D") + secs).astype("datetime64[us]")
        up["text"] = "recrawl " + up.text
        gone = live.iloc[del_i]
        up_path = os.path.join(self.work, f"upserts-{round_no}.parquet")
        del_path = os.path.join(self.work, f"deletes-{round_no}.parquet")
        pq.write_table(pa.Table.from_pandas(up, preserve_index=False), up_path)
        self.input_bytes += os.path.getsize(up_path)
        pq.write_table(pa.Table.from_pandas(
            gone[["url", "day", "coarse"]], preserve_index=False), del_path)
        touched = set(zip(live.day.iloc[up_i], live.coarse.iloc[up_i])) | set(
            zip(gone.day, gone.coarse))
        before = live[[p in touched for p in zip(live.day, live.coarse)]]
        write.merge_snapshot(enrich(self.spark.read.parquet(up_path)), self.table,
                             ["url"], deletes=self.spark.read.parquet(del_path))
        self.state.merge(with_keys(up), gone.url)
        return len(up) + len(gone), touched, len(before)

    def read(self, since: int | None, touched: set) -> tuple[float, bool, float]:
        """read_where + read_changes, timed; then both checked.  Returns
        (read seconds, correct, check seconds)."""
        lo = float(self.rng.uniform(-45.0, 65.0 - READ_BAND_DEG))
        hi = lo + READ_BAND_DEG
        t0 = time.perf_counter()
        where = (self.table.read_where(self.spark, "lat", lo, hi)
                 .select("url", "warc_ts", "tile_x", "tile_y").toPandas())
        changes = self.table.read_changes(self.spark, since).select("url").toPandas()
        t1 = time.perf_counter()
        want = self.state.where("lat", lo, hi)
        tx, ty = oracles.tile_xy(want.lat.to_numpy(), want.lon.to_numpy(), 8)
        want = pd.DataFrame({"url": want.url.to_numpy(),
                             "warc_ts": want.warc_ts.to_numpy().astype("datetime64[us]"),
                             "tile_x": tx, "tile_y": ty})
        where["warc_ts"] = where.warc_ts.to_numpy().astype("datetime64[us]")
        where["tile_x"] = where.tile_x.astype(np.int64)
        where["tile_y"] = where.tile_y.astype(np.int64)
        ok = oracles.same_rows(where, want, ["url", "warc_ts", "tile_x", "tile_y"], "url")
        live = self.state.df
        in_touched = [p in touched for p in zip(live.day, live.coarse)]
        ok = ok and sorted(changes.url) == sorted(live.url[in_touched])
        return t1 - t0, bool(ok) and len(changes) > 0, time.perf_counter() - t1

    def maintain(self) -> int:
        """expire_snapshots + compact the largest partition; bytes rewritten."""
        self.table.expire_snapshots(keep_last=2)
        man = max(self.table.manifests(), key=lambda m: m["byte_size"])
        self.table.compact_partition(self.spark, man["partition"])
        return man["byte_size"]


def run(ctx) -> dict:
    d = inputs.ingest_inputs(ctx.checkout, ctx.seed)
    ctx.mark("inputs ready")
    lakes = []

    def build(spark):
        """Round 1 creates the table and loads the base days; later rounds
        re-open it on their new session, as a restarted writer would."""
        if not lakes:
            lakes.append(Lake(spark, os.path.join(ctx.work, "table"),
                              ctx.work, ctx.seed, d))
            for _ in range(inputs.INGEST_BASE_DAYS):
                lakes[0].append()
        lake = lakes[0]
        lake.reopen(spark)
        _, ok, _ = lake.read(None, lake.partitions())   # warm-up read
        if not ok:
            raise RuntimeError("warm-up read does not match the table state")
        return lake

    setup_s, cold_s, lake = common.timed_setup(ctx.host, build, ctx.mark)
    ctx.mark(f"setup done ({setup_s:.2f}s, cold start {cold_s:.2f}s)")
    tracer = ctx.tracer
    rec = {"append": [], "merge": [], "read": [], "rows": 0, "changed": 0,
           "rewritten": 0, "failed": 0, "attempted": 0, "check_s": 0.0,
           "append_traced": [], "maint_bytes": 0, "maint": 0,
           "traced_groups": [], "traced_rows": 0, "traced_s": 0.0,
           "manifests_before": [], "input_bytes": 0}
    sc = ctx.host.spark.sparkContext
    min_rounds = 6 if ctx.trace else MERGE_EVERY
    t_start = time.perf_counter()
    with common.HostWindow() as hw, common.MemorySampler(ctx.host) as mem:
        for r in range(MAX_ROUNDS):
            if time.perf_counter() - t_start >= ctx.seconds and r >= min_rounds:
                break
            traced = ctx.trace and r % 2 == 1
            sc.setJobGroup(f"lakebench-round-{r}", "lake_ingest round")
            if traced:
                rec["traced_groups"].append(f"lakebench-round-{r}")
                snap = lake.table.snapshot()
                rec["manifests_before"].append(len(snap["manifest_list"]) if snap else 0)
                gc0 = ctx.host.jvm_gc()[0]
                install(tracer)
            try:
                since = lake.table.current_snapshot_id()
                t0 = time.perf_counter()
                if r % MERGE_EVERY == MERGE_EVERY - 1:
                    changed, touched, rewritten = lake.merge(r)
                    rec["merge"].append(time.perf_counter() - t0)
                    rec["rows"] += changed
                    rec["changed"] += changed
                    rec["rewritten"] += rewritten
                else:
                    n, touched = lake.append()
                    dt = time.perf_counter() - t0
                    rec["append_traced" if traced else "append"].append(dt)
                    rec["rows"] += n
                    if traced:
                        rec["traced_rows"] += n
                rec["attempted"] += 1
                dt, ok, check_s = lake.read(since, touched)
                rec["read"].append(dt)
                rec["check_s"] += check_s
                rec["attempted"] += 1
                rec["failed"] += not ok
                if r % MAINT_EVERY == MAINT_EVERY - 1:
                    rec["maint_bytes"] += lake.maintain()
                    rec["maint"] += 1
                if traced:
                    rec["traced_s"] += time.perf_counter() - t0
                    tracer.count("jvm.gc_s", ctx.host.jvm_gc()[0] - gc0)
            finally:
                if traced:
                    tracer.unwrap_all()
    ctx.mark(f"measured {rec['attempted']} operations")
    ctx.host_report = dict(hw.report(), **{"bench.check_s": rec["check_s"]})
    rec["input_bytes"] = lake.input_bytes
    tbl = lake.table
    live_rows = tbl.stats()["rows"]
    if live_rows != len(lake.state.df):
        rec["failed"] += 1
    if not ctx.trace:
        commit_times = rec["append"] + rec["merge"]
        metrics = {
            "setup_s": setup_s, "nonheap_rss_mb": mem.peak_mb,
            "ops_per_s": len(commit_times) / sum(commit_times),
            "op_p50_s": median(commit_times),
            "rows_per_s": rec["rows"] / sum(commit_times),
            "append_p50_s": median(rec["append"]),
            "merge_p50_s": median(rec["merge"]),
            "read_p50_s": median(rec["read"]),
            "stored_bytes_per_row": common.dir_bytes(tbl.root) / live_rows}
        return common.finish(rec["attempted"], rec["failed"], metrics, END_TO_END)
    return common.finish(rec["attempted"], rec["failed"],
                         layer_metrics(ctx, lake, rec, cold_s), PER_LAYER,
                         signed=("trace.overhead_op_p50_s",))


def install(tracer) -> None:
    from geolake_spark import metrics, write
    from geolake_spark.catalog import IcebergishTable
    tracer.wrap_function(write, "write_snapshot", "write.write_snapshot")
    tracer.wrap_function(write, "merge_snapshot", "write.merge_snapshot")
    tracer.wrap_function(metrics, "partition_metrics", "metrics.partition_metrics")
    tracer.wrap_method(IcebergishTable, "commit", "catalog.commit")
    tracer.wrap_method(IcebergishTable, "manifests", "catalog.manifests")
    tracer.wrap_method(IcebergishTable, "read_where", "catalog.read_where")
    tracer.wrap_method(IcebergishTable, "read_changes", "catalog.read_changes")
    tracer.wrap_method(IcebergishTable, "expire_snapshots", "catalog.expire_snapshots")
    tracer.wrap_method(IcebergishTable, "compact_partition", "catalog.compact_partition")
    tracer.wrap_method(IcebergishTable, "stats_prune", "catalog.stats_prune",
                       count=lambda ks: {"catalog.pruned": ks[1],
                                         "catalog.prune_seen": len(ks[0]) + ks[1]})


def layer_metrics(ctx, lake, rec, cold_s) -> dict:
    from lakebench.tracing import SparkStatus, arrow_python, scan_bytes_per_row
    tracer, tbl = ctx.tracer, lake.table
    st = SparkStatus(ctx.host.spark)
    groups = set(rec["traced_groups"])
    tot = st.stage_totals(groups)
    sql = st.sql_metrics(groups)

    py = arrow_python(sql)
    parts = tbl.manifests()
    files = sum(len([f for f in os.listdir(tbl.partition_path(m["partition"]))
                     if f.endswith(".parquet")]) for m in parts)
    md = lambda name: median(tracer.durations(name))  # noqa: E731
    n = len(groups)
    return {
        "session.start_s": cold_s,
        "geo.python_s": py["run_s"],
        "geo.python_boot_s": py["boot_s"],
        "geo.python_bytes_per_row": py["bytes"] / rec["traced_rows"],
        "catalog.manifests_s": md("catalog.manifests"),
        "catalog.manifests_per_commit": median(rec["manifests_before"]),
        "catalog.commit_s": md("catalog.commit"),
        "catalog.prune_ratio": tracer.counts["catalog.pruned"]
        / tracer.counts["catalog.prune_seen"],
        "catalog.read_where_s": md("catalog.read_where"),
        "catalog.read_changes_s": md("catalog.read_changes"),
        "catalog.metadata_bytes": common.dir_bytes(tbl.meta_dir),
        "catalog.expire_s": md("catalog.expire_snapshots"),
        "catalog.compact_s": md("catalog.compact_partition"),
        "catalog.compact_bytes_rewritten": rec["maint_bytes"] / rec["maint"],
        "write.snapshot_s": md("write.write_snapshot"),
        "write.merge_s": md("write.merge_snapshot"),
        "write.files_per_partition": files / len(parts),
        "write.bytes_per_input_byte": common.dir_bytes(tbl.data_dir) / rec["input_bytes"],
        "write.merge_rows_rewritten_per_changed_row": rec["rewritten"] / rec["changed"],
        "metrics.partition_metrics_s": md("metrics.partition_metrics"),
        "spark.executor_run_s": tot["executor_run_s"] / n,
        "spark.fetch_wait_s": tot["fetch_wait_s"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.failed_tasks": tot["failed_tasks"],
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "sources.input_bytes_per_row": scan_bytes_per_row(sql),
        "spark.cpu_busy_share": tot["executor_cpu_s"] / (rec["traced_s"] * os.cpu_count()),
        "jvm.gc_s": tracer.counts["jvm.gc_s"] / n,
        "jvm.heap_after_gc_mb": ctx.host.jvm_gc()[1],
        # appends alternate traced / untraced
        "trace.overhead_op_p50_s": median(rec["append_traced"]) - median(rec["append"]),
    }
