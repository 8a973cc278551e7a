"""Per-layer metrics of a traced run.

Each metric is named ``<module>.<measure>`` after the engine module it
describes, and every traced run reports all of them, in the names and
units of ``BENCHMARK.json``'s ``per_layer`` list; a layer that the
workload does not exercise reads 0.  Values come from the benchmark's
own timers around its calls into the engine and from the event-log
statistics of the job group each call ran under.

``sched_gap_s`` is wall time minus executor run time divided by the
cores: the part of a call not explained by task work.  A query's
``plan_s`` is the part of its action's wall time that none of the
action's jobs covers: Catalyst analysis, optimisation and planning plus
the driver's work between jobs.  It is taken this way, not by planning
the frame separately, so that tracing does not plan every query twice.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import eventlog
import hostenv

# Query-name prefix -> layer (a module of the engine).
LAYER_OF_PREFIX = {
    "dedup_": "operators.dedup",
    "curation_": "operators.curation",
    "text_": "operators.text",
    "sim_": "operators.similarity",
    "sql_": "sql",
    "events_": "operators.sessions",
}
_QUERY_FULL = ("construct_s", "construct_jobs", "plan_s", "execute_s", "execute_jobs",
               "input_bytes", "shuffle_write_bytes", "spill_bytes", "executor_run_s",
               "gc_s", "sched_gap_s")
_QUERY_SHORT = ("construct_s", "plan_s", "execute_s", "execute_jobs", "executor_run_s",
                "sched_gap_s")
QUERY_LAYERS = {
    "operators.dedup": _QUERY_FULL,
    "operators.curation": _QUERY_FULL,
    "operators.text": _QUERY_FULL,
    "operators.similarity": _QUERY_FULL,
    "sql": _QUERY_SHORT,
    "operators.sessions": _QUERY_SHORT,
}


def layer_of(query: str) -> str:
    for prefix, layer in LAYER_OF_PREFIX.items():
        if query.startswith(prefix):
            return layer
    raise KeyError(f"no layer for query {query!r}")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0


def compute(run, setup: dict, groups: dict[str, eventlog.GroupStats],
            jvm_rss_mb: float) -> dict[str, dict]:
    """Every ``per_layer`` metric of ``BENCHMARK.json`` for the traced
    ``workloads.Run`` ``run``, as ``{name: {"value", "unit"}}``."""
    cores = hostenv.cores()
    empty = eventlog.GroupStats()
    spans = [dict(s, st=groups.get(s["group"], empty)) for s in run.tracer.spans]

    def of(kind):
        return [s for s in spans if s["kind"] == kind]

    out = {
        "session.build_s": setup["build_s"],
        "registry.import_s": setup["import_s"],
        "session.jvm_peak_rss_mb": jvm_rss_mb,
        "sources.manifest.fetch_s": _median(run.fetch_s),
        "streaming.refresh.cached_snapshots": run.cached_snapshots,
        "caching.leaked_rdds": max(run.leaked_rdds),
        "trace.op_p50_ms": _median(run.ops_ms),
        "trace.pass_s": _median(run.passes_s),
    }

    # Refresh and lookup calls: the median per call.
    refresh, lookup = of("execute_job"), of("get_disk_usage")
    per_call = {
        "streaming.refresh.execute_job.wall_s": (refresh, lambda s: s["wall_s"]),
        "streaming.refresh.execute_job.jobs": (refresh, lambda s: s["st"].jobs),
        "streaming.refresh.execute_job.result_bytes": (refresh, lambda s: s["st"].result_bytes),
        "streaming.refresh.execute_job.driver_self_s":
            (refresh, lambda s: s["wall_s"] - s["st"].busy_s()),
        "streaming.refresh.get_disk_usage.wall_s": (lookup, lambda s: s["wall_s"]),
        "streaming.refresh.get_disk_usage.jobs": (lookup, lambda s: s["st"].jobs),
        "streaming.refresh.get_disk_usage.input_bytes": (lookup, lambda s: s["st"].input_bytes),
        "streaming.refresh.get_disk_usage.input_rows": (lookup, lambda s: s["st"].input_rows),
        "streaming.refresh.get_disk_usage.sched_gap_s":
            (lookup, lambda s: s["wall_s"] - s["st"].executor_run_s / cores),
        # The refresh's own jobs are the operators.core aggregate.
        "operators.core.input_bytes": (refresh, lambda s: s["st"].input_bytes),
        "operators.core.input_rows": (refresh, lambda s: s["st"].input_rows),
        "operators.core.shuffle_write_bytes": (refresh, lambda s: s["st"].shuffle_write_bytes),
        "operators.core.executor_run_s": (refresh, lambda s: s["st"].executor_run_s),
        "operators.core.gc_s": (refresh, lambda s: s["st"].gc_s),
        "operators.core.sched_gap_s":
            (refresh, lambda s: s["st"].busy_s() - s["st"].executor_run_s / cores),
    }
    for name, (calls, f) in per_call.items():
        out[name] = _median([f(s) for s in calls])

    # Queries: per query the median over its executions, per layer the
    # sum over its queries, i.e. one pass's worth.
    executions: list[dict] = []
    for s in spans:
        if s["kind"] == "construct":
            executions.append({})
        if "query" in s:
            executions[-1][s["kind"]] = s
    per_query: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for ex in executions:
        if "execute" not in ex:
            continue  # the checking pass, or a query that failed
        c, e = ex["construct"], ex["execute"]
        sts = (c["st"], e["st"])
        run_s = sum(st.executor_run_s for st in sts)
        row = {
            "construct_s": c["wall_s"],
            "construct_jobs": c["st"].jobs,
            "plan_s": e["wall_s"] - e["st"].busy_s(),
            "execute_s": e["wall_s"],
            "execute_jobs": e["st"].jobs,
            "input_bytes": sum(st.input_bytes for st in sts),
            "shuffle_write_bytes": sum(st.shuffle_write_bytes for st in sts),
            "spill_bytes": sum(st.spill_bytes for st in sts),
            "executor_run_s": run_s,
            "gc_s": sum(st.gc_s for st in sts),
            "sched_gap_s": c["wall_s"] + e["wall_s"] - run_s / cores,
        }
        for k, v in row.items():
            per_query[c["query"]][k].append(v)
    for layer, measures in QUERY_LAYERS.items():
        qs = [q for q in per_query if layer_of(q) == layer]
        for m in measures:
            out[f"{layer}.{m}"] = sum(_median(per_query[q][m]) for q in qs)

    return {m["name"]: {"value": out[m["name"]], "unit": m["unit"]}
            for m in hostenv.benchmark_spec()["per_layer"]}
