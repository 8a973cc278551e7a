"""One Spark driver process of a benchmark run.

Started by ``run.py``.  It builds the session, imports the registry and
runs a first job, then prints ``READY`` so the parent can time set-up
from process start.  Then it runs one workload (``workloads.py``) and
prints one JSON line with its timings, its correctness counts and, with
``--trace 1``, the per-layer metrics (``layers.py``) built from the job
groups it set and the event log the JVM wrote.

The worker only calls the engine's public functions; it never patches
or wraps engine code.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostenv  # noqa: E402

sys.path.insert(0, hostenv.REPO)


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inventory-cache", help="inventory cache directory (du_lookup)")
    ap.add_argument("--eventlog", help="event-log directory (traced runs)")
    args = ap.parse_args()

    setup = {}
    t0 = time.perf_counter()
    from go_mailio_diskusage_handler_spark.session import build_session
    spark = build_session("perfbench")
    setup["build_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    from go_mailio_diskusage_handler_spark import registry  # noqa: F401
    setup["import_s"] = time.perf_counter() - t0
    spark.range(1).count()
    print("READY", flush=True)

    gateway = spark.sparkContext._gateway
    try:
        # The benchmark's own modules load after set-up, so they are not
        # part of it.
        import eventlog
        import inventory
        import layers
        import workloads

        run = workloads.Run(spark, args.seed, args.seconds, bool(args.trace))
        inv = None
        if args.inventory_cache:
            inv = inventory.load_or_generate(inventory.spec_for(args.seed),
                                             args.inventory_cache)
        workloads.WORKLOADS[args.workload](run, inv)
        result = {
            "ops_ms": run.ops_ms,
            "passes_s": run.passes_s,
            "op_cpu_ms": run.op_cpu_ms,
            "passes_cpu_s": run.passes_cpu_s,
            "attempted": run.attempted,
            "failed": run.failed,
            "errors": run.errors,
            "per_query_ms": {q: 1000.0 * statistics.median(v)
                             for q, v in run.per_query_s.items()},
            "cold_s": run.cold_s,
            "py_peak_rss_mb": vm_hwm_mb(),
            "driver_memory": spark.conf.get("spark.driver.memory"),
        }
        jvm_rss_mb = vm_hwm_mb(gateway.proc.pid)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    if args.trace:
        groups = eventlog.parse_dir(args.eventlog)
        result["per_layer"] = layers.compute(run, setup, groups, jvm_rss_mb)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
