"""Repo-wide physical-plan shape regression gate.

`PLAN_BASELINE.json` (regenerate with `python3 tools_plan_inventory.py`
after INTENTIONAL plan changes) records, for every registered query at
sf0.001, `plans.plan_shape` of its executed plan: static shuffle count,
broadcast/sort-merge join counts, and nested-loop/cartesian count.  This test asserts no query's shuffle or
nested-loop count GREW — the silent ways a refactor degrades the
100 TB story (a broadcast falling back to SMJ+exchange, a join
condition losing its equi-key and going cartesian).

Counts are STATIC lineage counts: a query whose persisted subplan
feeds k consumers counts that subplan's exchanges k times even though
execution materializes once.  That over-count is stable for fixed
code, which is all a monotonic gate needs.  Planning only — nothing executes.
"""
from __future__ import annotations

import gc
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_mailio_diskusage_handler_spark import plans, registry  # noqa: E402

SF_TINY = "/root/testdata/sf0.001"
_BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PLAN_BASELINE.json",
)

# Load lazily so a missing/corrupt baseline fails ONLY the plan-shape
# gate with a regenerate hint instead of aborting pytest collection
# for the whole session (ADVICE r7).
_BASELINE: dict | None = None


def _baseline() -> dict:
    global _BASELINE
    if _BASELINE is None:
        try:
            with open(_BASELINE_PATH) as fh:
                _BASELINE = json.load(fh)
        except (OSError, json.JSONDecodeError) as exc:
            pytest.fail(
                f"PLAN_BASELINE.json unreadable ({exc}) — regenerate "
                f"with `python3 tools_plan_inventory.py`"
            )
    return _BASELINE


def test_baseline_covers_every_registered_query():
    missing = sorted(set(registry.QUERIES) - set(_baseline()))
    assert not missing, (
        f"queries missing from PLAN_BASELINE.json: {missing} — "
        f"regenerate with `python3 tools_plan_inventory.py`"
    )


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_plan_shape_did_not_regress(spark, name):
    base = _baseline().get(name)
    if base is None or "error" in base:
        pytest.skip(f"{name}: no committed plan baseline")
    # clean cache + fire pending own_cache finalizers first: a dropped
    # result's finalizer unpersists by PLAN EQUALITY and would cancel
    # this call's fresh persist marks on GC timing, flipping counts
    spark.catalog.clearCache()
    gc.collect()
    df = registry.QUERIES[name](spark, SF_TINY)
    plan = plans.executed_plan(df)
    shape = plans.plan_shape(plan)
    shuffles, nested = shape["shuffles"], shape["nested_loops"]
    assert shuffles <= base["shuffles"], (
        f"{name}: shuffle count grew {base['shuffles']} -> {shuffles}; if "
        f"intentional, regenerate PLAN_BASELINE.json\n{plan}"
    )
    assert nested <= base["nested_loops"], (
        f"{name}: nested-loop/cartesian joins grew "
        f"{base['nested_loops']} -> {nested}\n{plan}"
    )
