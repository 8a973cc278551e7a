"""What each workload runs, and the loops that time it.

``du_lookup`` drives ``streaming.refresh.DiskUsageHandler`` over a seeded
inventory (``inventory.py``).  ``queries`` runs a fixed list
of registry queries over the vendored sf0.01 fixtures in ``fixtures/``;
the seed only permutes the order of the checking pass.

Each workload runs untimed cold cycles first (JIT compilation,
file-system caches, heap growth; for ``queries`` the first cold pass is
also the one whose outputs are checked), then a fixed number of timed
cycles, more only if ``--seconds`` have not passed by then.  The number
is fixed because the JVM is still warming up: per-pass CPU time of the
queries kept falling over 15 passes, so every run measures the same
stretch of that curve, whatever the host's speed.  The fixed counts
outlast ``--seconds`` at 8 on a 4-core host.

Every timed call records its wall time and its CPU time (``CpuClock``).
On a shared virtual host the hypervisor takes a varying share of the CPU
(0-18% seen from one run to the next), which made the same run's wall
times up to 1.6 times longer, since a Spark stage waits for its slowest
core.  The kernel leaves stolen time out of a process's CPU time, so CPU
time varies less; it still rises with the neighbours' load, through the
caches and the JIT compiler's timing.
"""

from __future__ import annotations

import gc
import json
import os
import random
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import inventory
from checks import fingerprint
from go_mailio_diskusage_handler_spark import registry
from go_mailio_diskusage_handler_spark.sources.manifest import ManifestNotFoundError
from go_mailio_diskusage_handler_spark.streaming.refresh import DiskUsageHandler, NotFoundError

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")

# Lookup traffic.  These are run-length choices, not measured traffic:
# the reference's request mix is unknown, and the timed figures do not
# depend on them, because a lookup is timed on its own and a refresh on
# its own.  LOOKUPS_PER_REFRESH sets how many refreshes fit in a run.
LOOKUPS_PER_REFRESH = 4
MISS_FRAC = 0.1

# One query per layer, two for SQL: normalised exact dedup, curation
# quality gate, text n-grams, brute-force similarity top-k, then short
# SQL and event-session queries, where fixed per-query costs (planning,
# job submission, scheduling) dominate.  Each takes 0.2-0.6 s warm on a
# 4-core host, so a run fits the passes the JVM needs to warm up and
# several timed ones.  Timed passes run in this order.
QUERIES = (
    "dedup_normalized",
    "sql_pricing_summary",
    "curation_quality_gate",
    "events_funnel",
    "sim_brute_topk",
    "sql_market_share",
    "text_ngram_topk",
)

perf = time.perf_counter


class Tracer:
    """Job-group spans around the calls the benchmark times.  Disabled,
    it only runs the body."""

    def __init__(self, spark, enabled: bool):
        self._sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, kind: str, **attrs):
        if not self.enabled:
            yield
            return
        group = f"{len(self.spans)}:{kind}"
        self._sc.setJobGroup(group, kind)
        t0 = perf()
        try:
            yield
        finally:
            wall = perf() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append({"group": group, "kind": kind, "wall_s": wall, **attrs})


class CpuClock:
    """CPU time, user and system, of this process and of the Spark JVM,
    all threads, ended ones included."""

    def __init__(self, jvm_pid: int):
        self._stat = f"/proc/{jvm_pid}/stat"
        self._tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        with open(self._stat) as f:
            st = f.read()
        utime, stime = st[st.rindex(")") + 2:].split()[11:13]
        return time.process_time() + (int(utime) + int(stime)) / self._tick


class Run:
    """Samples and counters of one run."""

    def __init__(self, spark, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.seconds = seconds
        self.tracer = Tracer(spark, trace)
        self.rng = random.Random(seed)
        self.cpu_s = CpuClock(spark.sparkContext._gateway.proc.pid)
        self.ops_ms: list[float] = []
        self.passes_s: list[float] = []
        self.op_cpu_ms: dict[str, list[float]] = defaultdict(list)
        self.passes_cpu_s: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.fetch_s: list[float] = []
        self.cached_snapshots = 0
        self.per_query_s: dict[str, list[float]] = defaultdict(list)
        self.leaked_rdds = [0]
        self.cold_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def cycles(self, cycle, cold: int, timed: int) -> None:
        """``cycle(measured=False)`` ``cold`` times, then
        ``cycle(measured=True)`` until ``seconds`` have passed, at least
        ``timed`` times."""
        t0 = perf()
        # Cold cycles are not traced: per-layer figures describe the
        # timed cycles.
        traced, self.tracer.enabled = self.tracer.enabled, False
        for _ in range(cold):
            cycle(measured=False)
        self.tracer.enabled = traced
        self.cold_s = perf() - t0
        t0 = perf()
        n = 0
        while n < timed or perf() - t0 < self.seconds:
            cycle(measured=True)
            n += 1


# -- disk-usage workload -----------------------------------------------------
#
# One ``get_disk_usage`` is the operation (the read path) and one
# ``execute_job`` alone is the pass (the write path), so neither figure
# depends on how many lookups follow a refresh.

def _handler(run: Run, inv: inventory.Inventory):
    """A handler in DataFrame serving, its clock fixed on the inventory's
    day, so every refresh probes the same manifest."""

    def download(bucket: str, key: str) -> bytes:
        t0 = perf()
        try:
            with open(inv.manifest_file(bucket, key), "rb") as f:
                return f.read()
        except FileNotFoundError:
            raise ManifestNotFoundError(f"s3://{bucket}/{key}") from None
        finally:
            run.fetch_s.append(perf() - t0)

    return DiskUsageHandler(
        run.spark, inventory.INVENTORY_PATH, 3600.0, download,
        path_scheme="file", serving="dataframe", clock=lambda: inventory.DAY,
        eager=False, autostart=False,
    )


def _refresh(run: Run, handler, exp: inventory.Expectation, measured: bool) -> None:
    """One timed ``execute_job``; checks the observed quality counters."""
    run.attempted += 1
    t0, c0 = perf(), run.cpu_s()
    with run.tracer.span("execute_job"):
        handler.execute_job()
    if measured:
        run.passes_s.append(perf() - t0)
        run.passes_cpu_s.append(run.cpu_s() - c0)
    m = handler.last_refresh_metrics or {}
    if (m.get("total_rows"), m.get("malformed_keys")) != (exp.total_rows, exp.malformed_keys):
        run.fail(f"refresh metrics {m} != expected rows={exp.total_rows} "
                 f"malformed={exp.malformed_keys}")
    if run.tracer.enabled:
        run.cached_snapshots = run.persisted_rdds()


def _get(handler, address: str):
    """``(size_bytes, number_files)`` of a lookup, or None on a miss."""
    try:
        d = handler.get_disk_usage(address)
    except NotFoundError:
        return None
    return (d.size_bytes, d.number_files)


def _lookup_batch(run: Run, inv: inventory.Inventory, n: int) -> list[str]:
    """Seeded hit and miss addresses: about ``MISS_FRAC`` misses, taken
    from pool addresses the inventory does not hold."""
    present = inv.expected.addresses
    absent = sorted(set(inv.address_pool.tolist()) - set(present.tolist()))
    absent = absent or ["nobody@mail.example"]
    out = []
    for _ in range(n):
        if run.rng.random() < MISS_FRAC:
            out.append(absent[run.rng.randrange(len(absent))])
        else:
            out.append(str(present[run.rng.randrange(len(present))]))
    return out


def du_lookup(run: Run, inv: inventory.Inventory) -> None:
    """DataFrame serving over one unchanged manifest: refresh, then a
    seeded batch of lookups, then refresh again, and so on.  Every
    lookup is timed and checked."""
    expected = inv.expected.as_dict()
    handler = _handler(run, inv)

    def cycle(measured: bool) -> None:
        _refresh(run, handler, inv.expected, measured)
        for a in _lookup_batch(run, inv, LOOKUPS_PER_REFRESH):
            run.attempted += 1
            t0, c0 = perf(), run.cpu_s()
            with run.tracer.span("get_disk_usage"):
                got = _get(handler, a)
            if measured:
                run.ops_ms.append((perf() - t0) * 1000.0)
                run.op_cpu_ms["get_disk_usage"].append((run.cpu_s() - c0) * 1000.0)
            if got != expected.get(a):
                run.fail(f"lookup {a}: got {got}, expected {expected.get(a)}")

    # The first cycle's snapshot stays cached, and the second refresh
    # still reads from that cache before dropping it.  From the third on,
    # every refresh scans the inventory and every lookup rescans it; from
    # the fifth, the refresh time is steady.
    run.cycles(cycle, cold=4, timed=6)


# -- query workload ------------------------------------------------------------

def queries(run: Run, _inv=None) -> None:
    """The first of two cold passes, in a seeded order, collects each
    result and compares it with the pinned fingerprint.  Every later
    pass, the second cold one and each timed one, runs in the fixed order
    of ``QUERIES``, so a query's place in the JVM's warm-up is the same
    in every run; its action is a ``noop`` write, so every column is
    computed."""
    with open(EXPECTED) as f:
        pinned = json.load(f)["pinned"]
    names = [q for q in QUERIES if q in pinned]
    tracer = run.tracer

    def check(q: str, df) -> None:
        got = fingerprint(df.columns, df.collect())
        want = (pinned[q]["rows"], pinned[q]["sha256"])
        if got != want:
            run.fail(f"{q}: rows/fingerprint {got} != pinned {want}")

    checked = []

    def cycle(measured: bool) -> None:
        checking = not checked
        checked.append(True)
        t_pass, c_pass = perf(), run.cpu_s()
        for q in run.rng.sample(names, len(names)) if checking else names:
            run.attempted += 1
            t0, c0 = perf(), run.cpu_s()
            try:
                with tracer.span("construct", query=q):
                    df = registry.QUERIES[q](run.spark, FIXTURES)
                if checking:
                    check(q, df)
                    continue
                with tracer.span("execute", query=q):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # a failing query is a result, not a crash
                run.fail(f"{q}: {type(exc).__name__}: {exc}")
                continue
            if measured:
                dt = perf() - t0
                run.ops_ms.append(dt * 1000.0)
                run.per_query_s[q].append(dt)
                run.op_cpu_ms[q].append((run.cpu_s() - c0) * 1000.0)
        if measured:
            run.passes_s.append(perf() - t_pass)
            run.passes_cpu_s.append(run.cpu_s() - c_pass)
            if tracer.enabled:
                df = None
                gc.collect()
                run.leaked_rdds.append(run.persisted_rdds())

    run.cycles(cycle, cold=3, timed=6)


WORKLOADS = {"du_lookup": du_lookup, "queries": queries}
