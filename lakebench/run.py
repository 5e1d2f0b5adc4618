"""Benchmark of record for geolake_spark.

    python3 lakebench/run.py --workload pip_tiles --seed 1 --seconds 22 --trace 0

Runs one named workload from the root of a checkout, checks every result
against the benchmark's own oracles and prints, as the last stdout line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
``BENCHMARK.json`` lists with ``--trace 0``, its per-layer metrics (plus
``trace.overhead_op_p50_s``) with ``--trace 1``; the same names for every
listed workload.  The line before it is the host-validity line, and the
one before that the ``detail`` line: the workload's own metrics that the
result line does not carry.  A traced run also writes its spans file
under ``.lakebench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field

T0 = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("pip_tiles", "geo_requests", "lake_ingest")


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    checkout: str
    work: str
    host: object = None
    tracer: object = None
    host_report: dict = field(default_factory=dict)

    def mark(self, label: str) -> None:
        """Progress line on stderr: what finished, seconds since start."""
        print(f"[lakebench] {label} at {time.perf_counter() - T0:.2f}s",
              file=sys.stderr, flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be importable before anything is built
    import geolake_spark  # noqa: F401

    from lakebench import common
    from lakebench.tracing import Tracer
    checkout = common.checkout_root()
    work = os.path.join(common.bench_dir(), "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    common.fresh_dir(work)
    common.prepare_env(work)
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  checkout, work, host=common.SparkHost(f"lakebench-{args.workload}"),
                  tracer=Tracer() if args.trace else None)
    module = __import__(f"lakebench.{args.workload}", fromlist=["run"])
    ctx.mark("imported")
    try:
        res = module.run(ctx)
    finally:
        ctx.host.stop()
        ctx.mark("stopped")
        if ctx.tracer is not None:
            ctx.tracer.dump(os.path.join(
                common.bench_dir(), f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    if ctx.tracer is not None:
        from lakebench.tracing import self_times
        print("self_time_s " + json.dumps(self_times(ctx.tracer.spans), sort_keys=True))
    shared, detail = common.split(res["metrics"], common.RESULT_PER_LAYER
                                  if args.trace else common.RESULT_END_TO_END)
    print("detail " + json.dumps(common.metrics_json(detail, res["signed"])))
    print("host " + json.dumps(ctx.host_report, sort_keys=True))
    print(common.result_line(res["correct"], res["attempted"], res["failed"],
                             shared, signed=res["signed"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
