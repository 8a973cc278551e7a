"""Regenerate PLAN_BASELINE.json: per-query physical-plan shape facts.

Planning only — no query executes.  Plans the package of the checkout
this file lives in, and writes that checkout's baseline:
    python3 tools_plan_inventory.py
"""
from __future__ import annotations

import gc
import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from go_mailio_diskusage_handler_spark import plans, registry  # noqa: E402
from go_mailio_diskusage_handler_spark.session import build_session  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = build_session("plan-inventory")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, dict] = {}
    for name, fn in registry.QUERIES.items():
        try:
            # plan against a clean cache: a prior query's persisted
            # frame turns exchanges into InMemoryTableScans and makes
            # counts depend on planning ORDER.  gc.collect() first:
            # a dropped result's own_cache finalizer unpersists by
            # PLAN EQUALITY and would cancel this call's fresh persist
            # marks if it fired mid-planning (GC timing flakiness).
            df = None  # drop the previous frame BEFORE collecting,
            # or its finalizer fires mid-iteration instead
            spark.catalog.clearCache()
            gc.collect()
            df = fn(spark, SF)
            out[name] = plans.plan_shape(plans.executed_plan(df))
        except Exception as exc:  # planning failure must be visible
            out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        print(name, out[name], flush=True)
    with open(os.path.join(REPO, "PLAN_BASELINE.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()


if __name__ == "__main__":
    main()
