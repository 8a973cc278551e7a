"""The environment the engine runs in, and the host facts reported with
every result.

Every file Spark, the JVM and Python write goes under the work
directory inside the checkout: the shuffle and spill directory, the
warehouse, temporary files and, in a traced run, the event log.
"""

from __future__ import annotations

import json
import os
import platform
import shlex
import subprocess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "go_mailio_diskusage_handler_spark")
WORK = os.path.join(REPO, ".perfbench_work")


def benchmark_spec() -> dict:
    """``BENCHMARK.json``: the workloads and the metrics with their units."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(work: str, eventlog_dir: str | None = None) -> dict[str, str]:
    """Environment for a process that builds a session with
    ``session.build_session``.  The event log, when asked for, must be
    configured here: settings given to the builder after the JVM has
    started are ignored."""
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    submit = []
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{eventlog_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    submit.append("pyspark-shell")
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores()),
        SPARK_GRAFT_LOCAL_DIR=local,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        # Both JVMs, spark-submit's launcher and the Spark driver: no
        # /tmp/hsperfdata files, temporary files in the work directory.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit),
    )
    return env


def _meminfo(field: str) -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def loadavg() -> list[float]:
    return list(os.getloadavg())


def cpu_ticks() -> list[int]:
    """The host's CPU time counters: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _free_bytes(path: str) -> int | None:
    try:
        st = os.statvfs(path)
    except OSError:
        return None
    return st.f_bavail * st.f_frsize


def _git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def host_block(work: str, load_start: list[float], ticks_start: list[int],
               driver_memory: str) -> dict:
    import pyarrow
    import pyspark

    ticks = [b - a for a, b in zip(ticks_start, cpu_ticks())]

    return {
        "nproc": cores(),
        "mem_total_bytes": _meminfo("MemTotal"),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        # Share of CPU time the hypervisor gave to other guests during
        # the run; timings drift with it on a shared host.
        "cpu_steal_frac": ticks[7] / max(1, sum(ticks)),
        "dev_shm_free_bytes": _free_bytes("/dev/shm"),
        "spark_local_dir": os.path.join(work, "local"),
        "spark_local_dir_free_bytes": _free_bytes(work),
        "driver_memory": driver_memory,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_sha": _git_sha(),
    }
