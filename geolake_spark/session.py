"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every conf here is
the one we'd ship to a 1000-executor job (AQE on, skew-join on, Arrow on,
shuffle partitions sized to the parallelism level).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """A quarter of the memory this process may use: the smaller of
    ``MemAvailable`` and the cgroup limit, with a 1 GiB floor."""
    with open("/proc/meminfo") as f:
        avail = next(int(ln.split()[1]) * 1024 for ln in f
                     if ln.startswith("MemAvailable:"))
    for path in ("/sys/fs/cgroup/memory.max",                 # cgroup v2
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):  # v1
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():  # v2 writes "max" when unlimited
            avail = min(avail, int(limit))
    return f"{max(avail // 4, 1 << 30) >> 20}m"


def get_spark(app_name: str = "geolake_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    if cores is None:
        cores = len(os.sched_getaffinity(0))
    heap = os.environ.get("GEOLAKE_DRIVER_MEM") or _default_heap()
    if shuffle_partitions is None:
        # On a real cluster: 2-3x total executor cores; locally: the core count.
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", heap)
        # fixed, pre-touched heap: prevents multi-second kernel stalls from
        # heap grow/shrink page-fault storms observed under G1 uncommit
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap} -XX:+AlwaysPreTouch -XX:+UseG1GC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # split scans finer than the 128MB default so wide fact files fan out
        # across all cores even when column pruning reads a small fraction
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # the inline ray-cast CASE ladder exceeds the default 8000-bytecode
        # hugeMethodLimit, silently dropping the stage out of whole-stage
        # codegen (measured 10x slower interpreted). Allow big methods.
        .config("spark.sql.codegen.hugeMethodLimit", "65535")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
