"""Summarise the CPU samples of a JDK Flight Recorder (``.jfr``) file.

    python3 tools_jfr_top.py RECORDING.jfr [--top 20] [--thread REGEX]
        [--frame REGEX ...]

Reads the recording's ``jdk.ExecutionSample`` events through
``jfr print --json`` (the JDK's own reader; ``jfr`` must be on PATH)
and prints:

* sample counts per thread group: the thread's name with every digit
  run replaced by ``N``, so the executor's per-task threads form one
  group;
* the top self frames (the sampled frame itself) and the top inclusive
  frames (a frame anywhere on the stack, counted once per sample), as
  ``package.Class.method``, with their share of the samples;
* for each ``--frame`` pattern, the share of samples with a matching
  frame anywhere on the stack (e.g. ``--frame java.util.regex``).

``--thread`` keeps only the samples of threads whose name matches, e.g.
``--thread "Executor task launch"`` for the executors' task threads.
Stacks are read up to ``STACK_DEPTH`` frames; a deeper stack is cut at
its outermost frames, which the inclusive counts then miss.

Taking a recording of the Spark JVM of a PySpark session: its pid is
``spark.sparkContext._gateway.proc.pid`` (or ``jcmd -l``); around the
loop to profile, run

    jcmd <jvm pid> JFR.start name=p settings=profile filename=/tmp/p.jfr
    ... loop ...
    jcmd <jvm pid> JFR.stop name=p
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from collections import Counter

STACK_DEPTH = 128


def execution_samples(path: str):
    """Yield each ``jdk.ExecutionSample`` event's ``values`` dict, decoded
    one event at a time from ``jfr print --json`` so a long recording
    is never held in memory as a whole."""
    argv = ["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
            "--stack-depth", str(STACK_DEPTH), path]
    dec = json.JSONDecoder()
    with subprocess.Popen(argv, stdout=subprocess.PIPE, text=True) as proc:
        buf, pos, in_events, done = "", 0, False, False
        while not done:
            chunk = proc.stdout.read(1 << 20)
            buf, pos = buf[pos:] + chunk, 0
            if not in_events:
                m = re.search(r'"events"\s*:\s*\[', buf)
                if m is None:
                    if not chunk:
                        break
                    continue
                pos, in_events = m.end(), True
            while True:
                while pos < len(buf) and buf[pos] in " \t\r\n,":
                    pos += 1
                if buf[pos:pos + 1] == "]":
                    done = True
                    break
                try:
                    event, pos = dec.raw_decode(buf, pos)
                except json.JSONDecodeError:
                    break  # the event continues in the next chunk
                yield event["values"]
            if not chunk:
                break
        proc.stdout.read()
    if proc.returncode != 0:
        raise SystemExit(f"jfr print failed on {path}")
    if not done:
        raise SystemExit(f"no complete event list in the output of jfr print {path}")


def frame_name(frame: dict) -> str:
    """``package.Class.method``; a lambda class loses its per-JVM id
    and address, so the same lambda reads alike across recordings."""
    method = frame["method"]
    cls = re.sub(r"\$\$Lambda\$[0-9a-fx+./]+$", "$$Lambda",
                 method["type"]["name"].replace("/", "."))
    return f"{cls}.{method['name']}"


def thread_group(values: dict) -> str:
    thread = values.get("sampledThread") or {}
    name = thread.get("javaName") or thread.get("osName") or "?"
    return re.sub(r"\d+", "N", name)


def summarise(path: str, top: int, thread: str | None, frames: list[str]) -> str:
    groups: Counter[str] = Counter()
    self_frames: Counter[str] = Counter()
    incl_frames: Counter[str] = Counter()
    matched: Counter[str] = Counter()
    patterns = [re.compile(p) for p in frames]
    n = truncated = 0
    for values in execution_samples(path):
        group = thread_group(values)
        groups[group] += 1
        if thread is not None and not re.search(thread, group):
            continue
        trace = values.get("stackTrace") or {}
        names = [frame_name(f) for f in trace.get("frames") or ()]
        if not names:
            continue
        n += 1
        truncated += bool(trace.get("truncated"))
        self_frames[names[0]] += 1
        on_stack = set(names)
        incl_frames.update(on_stack)
        for p in patterns:
            if any(p.search(f) for f in on_stack):
                matched[p.pattern] += 1

    def pct(k: int, of: int) -> str:
        return f"{100 * k / max(of, 1):5.1f}%"

    total = sum(groups.values())
    out = [f"recording: {path}", f"execution samples: {total}", "",
           "samples per thread group:"]
    out += [f"  {c:7d} {pct(c, total)}  {g}" for g, c in groups.most_common()]
    scope = f"threads matching {thread!r}" if thread else "all threads"
    out += ["", f"samples with a stack ({scope}): {n}, "
            f"cut at {STACK_DEPTH} frames: {truncated}"]
    for title, counts in (("top self frames", self_frames),
                          ("top inclusive frames", incl_frames)):
        out += ["", f"{title}:"]
        out += [f"  {c:7d} {pct(c, n)}  {f}" for f, c in counts.most_common(top)]
    if patterns:
        out += ["", "samples with a matching frame on the stack:"]
        out += [f"  {matched[p.pattern]:7d} {pct(matched[p.pattern], n)}  {p.pattern}"
                for p in patterns]
    return "\n".join(out)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--thread", help="regex over thread group names")
    ap.add_argument("--frame", action="append", default=[],
                    help="regex over frame names; repeatable")
    args = ap.parse_args()
    print(summarise(args.recording, args.top, args.thread, args.frame))


if __name__ == "__main__":
    sys.exit(main())
