"""Query registry: every implemented operator as a named (spark,
sf_dir) -> DataFrame callable plus its DuckDB oracle SQL.

This is the single source of truth consumed by ``__spark_entry__.py``,
``bench.py``, and the tests.  Convention: each Spark query aliases
every computed column, and the oracle SQL uses the *same* aliases so
the driver's order-insensitive value hash lines up.

The query bodies live in one module per family under ``queries/``:
``queries.FAMILY`` maps a name's prefix (up to the first underscore)
to its module, and each import below registers that family's
queries.  After the last import the registry is sorted once by
``queries.freshness.driver_order`` from the driver's record at the
repo root (``CORRECTNESS_r*.json`` and ``ORACLE_HASHES.json``): the
driver checks ``list(QUERIES)[:50]`` each round, so that window always
holds the queries whose latest external check is missing, outdated by
an oracle edit, or oldest.  Ties break by name, so the order does not
depend on which module registers a query or in what order the modules
are imported.
"""

from __future__ import annotations

import json
import os

from .queries._base import ORACLE_SQL, QUERIES, register  # noqa: F401
from .queries import freshness
from .queries import (  # noqa: F401
    q_du,
    q_sql,
    q_relational,
    q_scalar,
    q_text,
    q_dedup,
    q_curation,
    q_similarity,
    q_sessions,
    q_udf,
    q_dq,
)

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _apply_driver_order() -> None:
    with open(os.path.join(_REPO_ROOT, "ORACLE_HASHES.json")) as fh:
        oracle_round = {n: v["round"] for n, v in json.load(fh).items()}
    order = freshness.driver_order(
        list(QUERIES), freshness.last_checked(_REPO_ROOT), oracle_round
    )
    for d in (QUERIES, ORACLE_SQL):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in order if n in snapshot})


_apply_driver_order()
