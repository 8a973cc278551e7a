"""Benchmark of the disk-usage engine: one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The inputs are made from ``--seed``
(see ``workloads.py``), then one worker process (``worker.py``) sets up,
timed from its spawn, and runs the workload.  Printed on stdout: a host
block as one JSON line, then as the last line the result,
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones of BENCHMARK.json, with
``--trace 1`` the per-layer ones.  The exit code is non-zero when any
output was wrong or an operation failed.

``op_cpu_ms`` and ``pass_cpu_s`` are CPU times, of the Python driver
and the Spark JVM together (see ``workloads.py`` for why); their wall
times are in the host block and, traced, in ``trace.op_p50_ms`` and
``trace.pass_s``.  ``setup_s`` is wall time.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostenv  # noqa: E402

RUN_LIMIT_S = 170.0


def _preflight() -> None:
    """Fail fast when the engine package is not beside the benchmark."""
    if not os.path.isfile(os.path.join(hostenv.PACKAGE, "session.py")):
        raise SystemExit(f"perfbench: engine package not found at {hostenv.PACKAGE}")


class Child:
    """A worker process, timed from spawn until it prints READY."""

    def __init__(self, argv: list[str], env: dict, log_path: str, deadline: float):
        self._log = open(log_path, "ab")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            stdout=subprocess.PIPE, stderr=self._log, env=env, cwd=hostenv.REPO,
            start_new_session=True,
        )
        for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, self._abort)
        signal.alarm(max(1, int(deadline - time.monotonic())))
        for line in self.proc.stdout:
            if line.strip() == b"READY":
                break
        else:
            self.finish()
            raise RuntimeError("worker ended before set-up finished")
        self.setup_s = time.perf_counter() - t0

    def _abort(self, signum, _frame):
        self.kill()
        if signum == signal.SIGALRM:
            raise TimeoutError("benchmark run exceeded its time limit")
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    def kill(self) -> None:
        """Kill whatever is left of the worker's process group (its JVM
        and Python workers included) and wait until it is gone."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for _ in range(600):
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)

    def finish(self) -> dict | None:
        """Wait for the worker; return its JSON result line, if any."""
        try:
            out = self.proc.stdout.read()
            code = self.proc.wait()
        finally:
            signal.alarm(0)
            self.kill()
            for sig in (signal.SIGALRM, signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, signal.SIG_DFL)
            self._log.close()
        lines = out.decode().strip().splitlines()
        if code != 0 or not lines:
            return None
        return json.loads(lines[-1])


def trimmed_mean(xs: list[float]) -> float:
    """The mean without the lowest and the highest sample.  The samples
    of a run still fall with the JVM's warm-up, so every one of them
    carries information a median would drop; the trim keeps one
    outlier, a GC pause or a neighbour's burst, out."""
    xs = sorted(xs)
    return statistics.fmean(xs[1:-1] if len(xs) > 2 else xs)


def typical_op(op_cpu_ms: dict[str, list[float]]) -> float:
    """The geometric mean, over the kinds of operation, of each kind's
    trimmed mean: one figure in which every query weighs the same,
    whatever its length, and which does not jump between queries the way
    the median of a mixed sample does."""
    means = [trimmed_mean(v) for v in op_cpu_ms.values()]
    return math.exp(sum(math.log(m) for m in means) / len(means))


def run_once(spec: dict, workload: str, seed: int, seconds: float,
             trace: bool) -> tuple[dict, int]:
    deadline = time.monotonic() + RUN_LIMIT_S
    load_start, ticks_start = hostenv.loadavg(), hostenv.cpu_ticks()
    work = os.path.join(hostenv.WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        log = os.path.join(work, "worker.log")
        argv = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(int(trace))]
        if workload == "du_lookup":
            import inventory

            cache = os.path.join(hostenv.WORK, "inventory")
            inventory.load_or_generate(inventory.spec_for(seed), cache)
            argv += ["--inventory-cache", cache]
        eventlog_dir = os.path.join(work, "eventlog") if trace else None
        if trace:
            argv += ["--eventlog", eventlog_dir]
        worker = Child(argv, hostenv.spark_env(work, eventlog_dir), log, deadline)
        res = worker.finish()
        if res is None:
            with open(log, "rb") as f:
                sys.stderr.write(f.read()[-4000:].decode(errors="replace"))
            raise RuntimeError("worker failed; log tail above")
        host = hostenv.host_block(work, load_start, ticks_start, res["driver_memory"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if trace:
        metrics = res["per_layer"]
    else:
        values = {
            "setup_s": worker.setup_s,
            "op_cpu_ms": typical_op(res["op_cpu_ms"]),
            "pass_cpu_s": trimmed_mean(res["passes_cpu_s"]),
            "py_peak_rss_mb": res["py_peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    host.update(workload=workload, seed=seed, setup_s=worker.setup_s, cold_s=res["cold_s"],
                ops_ms=res["ops_ms"], passes_s=res["passes_s"],
                op_cpu_ms=res["op_cpu_ms"], passes_cpu_s=res["passes_cpu_s"],
                per_query_ms=res["per_query_ms"], errors=res["errors"])
    result = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    return {"host": host, "result": result}, (0 if res["failed"] == 0 else 1)


def main() -> int:
    _preflight()
    spec = hostenv.benchmark_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out, code = run_once(spec, args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"host": out["host"]}))
    print(json.dumps(out["result"]), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
