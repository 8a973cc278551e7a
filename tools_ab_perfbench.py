"""Interleaved A/B of ``perfbench/run.py``: a git ref against this checkout.

    python3 tools_ab_perfbench.py --ref HEAD~1 --workload du_lookup \
        --seeds 31-40 [--seconds 8] [--workdir DIR]

Both sides run from fresh trees in temporary directories under
``--workdir`` (the system temp dir by default), removed at the end: the
ref's tree is exported with ``git archive``, and this checkout's working
tree is copied (its tracked files plus the untracked files git does not
ignore).  Neither side runs from the checkout itself, so run state left
in it (``.perfbench_work/``, ``__pycache__/``) favours neither.  For each
seed, the ref ("base") and the working tree ("change") each run the
benchmark once, back to back; which side goes first alternates from one
seed to the next, so a drift of the host's load does not favour either
side.  Every run's result line is echoed as it arrives.

At the end, per end-to-end metric of ``BENCHMARK.json``: each side's
median and quartiles, the ratio of the medians, the change's wins over
the pairs (by the metric's ``better`` direction), and whether the gap
between the medians exceeds the base's interquartile range.  Exits
non-zero when any run is not ``correct`` or prints no result line.

Only ``perfbench/run.py``'s command line and output are used; nothing
under ``perfbench/`` is imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.abspath(__file__))


def parse_seeds(text: str) -> list[int]:
    """``"31-35,40"`` -> ``[31, 32, 33, 34, 35, 40]``."""
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def export_ref(ref: str, dest: str) -> str:
    """Extract the tree of ``ref`` into ``dest``; return its commit sha."""
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", "--verify", f"{ref}^{{commit}}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    archive = subprocess.Popen(["git", "-C", REPO, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {sha} failed")
    return sha


def copy_worktree(dest: str) -> None:
    """Copy this checkout's working tree into ``dest``: tracked files as
    they are on disk, plus untracked files that git does not ignore."""
    listed = subprocess.run(
        ["git", "-C", REPO, "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        check=True, capture_output=True, text=True,
    ).stdout.split("\0")
    for rel in filter(None, listed):
        src = os.path.join(REPO, rel)
        if os.path.isfile(src):  # a tracked file deleted in the worktree is skipped
            os.makedirs(os.path.dirname(os.path.join(dest, rel)), exist_ok=True)
            shutil.copy2(src, os.path.join(dest, rel))


def run_one(root: str, workload: str, seed: int, seconds: float) -> dict | None:
    """One benchmark run in checkout ``root``; its result line, or None."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.stderr.write(proc.stderr[-2000:])
        return None
    return result if "metrics" in result else None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics: list[dict], pairs: list[tuple[dict, dict]]) -> list[str]:
    out = [f"{'metric':<16}{'base median [q1, q3]':>30}{'change median [q1, q3]':>30}"
           f"{'ratio':>8}{'wins':>8}  gap>base IQR"]
    for m in metrics:
        name = m["name"]
        base = [b["metrics"][name]["value"] for b, _ in pairs]
        new = [c["metrics"][name]["value"] for _, c in pairs]
        sign = 1 if m["better"] == "lower" else -1
        wins = sum(sign * (c - b) < 0 for b, c in zip(base, new))
        bq1, bmed, bq3 = quartiles(base)
        cq1, cmed, cq3 = quartiles(new)
        out.append(
            f"{name:<16}{f'{bmed:.4g} [{bq1:.4g}, {bq3:.4g}]':>30}"
            f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':>30}"
            f"{cmed / bmed:>8.3f}{f'{wins}/{len(pairs)}':>8}  "
            f"{abs(cmed - bmed) > bq3 - bq1}"
        )
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--ref", required=True, help="git ref of the base side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 31-40 or 31,33,35")
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--workdir", default=None, help="where the ref's tree is exported")
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    base_root = tempfile.mkdtemp(prefix="ab-base-", dir=args.workdir)
    change_root = tempfile.mkdtemp(prefix="ab-change-", dir=args.workdir)
    bad = 0
    pairs: list[tuple[dict, dict]] = []
    try:
        sha = export_ref(args.ref, base_root)
        copy_worktree(change_root)
        print(f"# base {args.ref} = {sha}; change = copy of the working tree of {REPO}; "
              f"workload {args.workload}", flush=True)
        for i, seed in enumerate(parse_seeds(args.seeds)):
            sides = [("base", base_root), ("change", change_root)]
            if i % 2:
                sides.reverse()
            got = {}
            for label, root in sides:
                res = run_one(root, args.workload, seed, args.seconds)
                print(json.dumps({"seed": seed, "side": label, "result": res}), flush=True)
                if res is None or not res.get("correct"):
                    bad += 1
                got[label] = res
            if all(got[s] is not None for s in ("base", "change")):
                pairs.append((got["base"], got["change"]))
    finally:
        shutil.rmtree(base_root, ignore_errors=True)
        shutil.rmtree(change_root, ignore_errors=True)
    if pairs:
        print("\n".join(summarize(metrics, pairs)))
    if bad:
        print(f"# {bad} run(s) not correct or without a result line", flush=True)
    return 1 if bad or not pairs else 0


if __name__ == "__main__":
    sys.exit(main())
