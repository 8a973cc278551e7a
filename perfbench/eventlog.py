"""Per-job-group statistics from an uncompressed Spark event log.

The benchmark tags every call it times with a job group
(``SparkContext.setJobGroup``).  Spark copies the group into the
properties of each job and stage it submits, so every task can be
traced back to the call that caused it.  ``parse`` folds the log into
one ``GroupStats`` per group.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from dataclasses import dataclass, field

_GROUP = "spark.jobGroup.id"
_WANTED = ("SparkListenerJobStart", "SparkListenerJobEnd",
           "SparkListenerStageSubmitted", "SparkListenerTaskEnd")


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    result_bytes: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    job_intervals: list[tuple[int, int]] = field(default_factory=list)

    @property
    def executor_run_s(self) -> float:
        return self.executor_run_ms / 1000.0

    @property
    def gc_s(self) -> float:
        return self.gc_ms / 1000.0

    def busy_s(self) -> float:
        """Wall time covered by at least one of the group's jobs."""
        total, end = 0, None
        for s, e in sorted(self.job_intervals):
            if end is None or s > end:
                total += e - s
                end = e
            elif e > end:
                total += e - end
                end = e
        return total / 1000.0


def parse(lines: Iterable[str]) -> dict[str, GroupStats]:
    groups: dict[str, GroupStats] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        head = line[:64]
        if not any(w in head for w in _WANTED):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            st = groups[g]
            st.tasks += 1
            m = ev.get("Task Metrics") or {}
            inp = m.get("Input Metrics", {})
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_rows += inp.get("Records Read", 0)
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            st.result_bytes += m.get("Result Size", 0)
            st.executor_run_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
        elif kind == "SparkListenerStageSubmitted":
            g = (ev.get("Properties") or {}).get(_GROUP)
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
                groups.setdefault(g, GroupStats()).stages += 1
        elif kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get(_GROUP)
            if g is not None:
                job_group[ev["Job ID"]] = g
                job_start[ev["Job ID"]] = ev["Submission Time"]
                groups.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_intervals.append(
                    (job_start[jid], ev["Completion Time"]))
    return groups


def log_files(eventlog_dir: str) -> list[str]:
    """Event-log files under ``eventlog_dir``: a single file per
    application, or ``eventlog_v2_*/events_*`` parts when rolling."""
    out = []
    for root, _, files in os.walk(eventlog_dir):
        for name in sorted(files):
            if name.endswith((".inprogress", ".crc")) or name.startswith("appstatus_"):
                continue
            out.append(os.path.join(root, name))
    return sorted(out)


def parse_dir(eventlog_dir: str) -> dict[str, GroupStats]:
    files = log_files(eventlog_dir)
    if not files:
        raise FileNotFoundError(f"no event log under {eventlog_dir}")

    def lines():
        for path in files:
            with open(path) as f:
                yield from f

    return parse(lines())
