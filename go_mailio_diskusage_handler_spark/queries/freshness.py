"""Registry order derived from the driver's correctness record.

The driver checks the first ``WINDOW`` registry entries each round and
writes one ``CORRECTNESS_r{N}.json`` per round; ``ORACLE_HASHES.json``
(regenerated by ``tools_oracle_hashes.py``) records the round each
oracle text last changed.  ``driver_order`` turns those two records
into the registry order, so the window always holds the queries whose
latest external check is missing, outdated, or oldest:

1. queries whose oracle changed after their latest driver row (the
   in-repo oracle is edited in lockstep with the engine and cannot
   arbitrate its own changes);
2. queries the driver has never checked;
3. the rest, oldest latest-check round first.

The query name breaks ties inside each group, so the order is a
function of the names and the two records alone: it does not depend
on registration or import order, and applying it to its own output
changes nothing.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Mapping, Sequence

WINDOW = 50  # the driver checks the first 50 registry entries per round

_CORRECTNESS_RE = re.compile(r"^CORRECTNESS_r(\d+)\.json$")


def last_checked(repo_root: str) -> dict[str, int]:
    """query name -> latest round with a driver CORRECTNESS row.
    Queries absent from every file are absent from the map."""
    out: dict[str, int] = {}
    for fname in os.listdir(repo_root):
        m = _CORRECTNESS_RE.match(fname)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(os.path.join(repo_root, fname)) as f:
            for name in json.load(f):
                if out.get(name, -1) < rnd:
                    out[name] = rnd
    return out


def driver_order(
    names: Sequence[str],
    last: Mapping[str, int],
    oracle_round: Mapping[str, int],
) -> list[str]:
    """``names`` (in any order) sorted into the registry order described
    in the module docstring.  ``oracle_round`` maps a name to the round
    its oracle text last changed."""

    def key(name: str) -> tuple[int, int, str]:
        checked = last.get(name)
        if checked is None:
            return (1, 0, name)
        if oracle_round.get(name, -1) > checked:
            return (0, 0, name)
        return (2, checked, name)

    return sorted(names, key=key)
