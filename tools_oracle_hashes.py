"""Regenerate ORACLE_HASHES.json: per-query oracle-SQL content hashes
with the round each hash LAST CHANGED.

A query whose oracle text changes in round N gets ``round: N`` here.
``registry`` reads these rounds at import time: a query whose oracle
changed after its latest driver CORRECTNESS row sorts to the front of
the registry, inside the driver window
(``queries/freshness.driver_order``).  ``tests/test_rotation.py``
fails when the file is stale against the registry's oracle text.

Run from the repo root AFTER any round's oracle edits:
    python3 tools_oracle_hashes.py [round]
``round`` defaults to (max CORRECTNESS round on disk) + 1 — the round
currently being built.
"""
from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(REPO, "ORACLE_HASHES.json")


def current_round() -> int:
    rounds = [
        int(m.group(1))
        for f in os.listdir(REPO)
        if (m := re.match(r"^CORRECTNESS_r(\d+)\.json$", f))
    ]
    return (max(rounds) if rounds else 0) + 1


def oracle_hashes() -> dict[str, str]:
    from go_mailio_diskusage_handler_spark.registry import ORACLE_SQL

    return {
        n: hashlib.sha256(sql.encode()).hexdigest()[:16]
        for n, sql in ORACLE_SQL.items()
    }


def main() -> None:
    rnd = int(sys.argv[1]) if len(sys.argv) > 1 else current_round()
    old: dict[str, dict] = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            old = json.load(fh)
    new, changed = {}, []
    for name, h in oracle_hashes().items():
        prev = old.get(name)
        if prev and prev["hash"] == h:
            new[name] = prev  # unchanged: keep its last-changed round
        else:
            new[name] = {"hash": h, "round": rnd}
            changed.append(name)
    dropped = sorted(set(old) - set(new))
    if dropped:
        print(f"dropped from registry: {dropped}")
    print(f"round {rnd}: {len(changed)} oracle(s) changed/new: {sorted(changed)}")
    with open(OUT, "w") as fh:
        json.dump(new, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
