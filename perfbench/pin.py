"""Re-pin ``expected.json``: the row count and fingerprint of each query
the ``queries`` workload runs.

A query is pinned only when its Spark result over the vendored
fixtures equals its DuckDB oracle (``registry.ORACLE_SQL``) under the
same normalisation; otherwise it is recorded under ``excluded`` with the
reason, and ``run.py`` leaves it out of the workload.

    python3 perfbench/pin.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import hostenv  # noqa: E402

sys.path.insert(0, hostenv.REPO)

import workloads  # noqa: E402
from checks import fingerprint, normalize  # noqa: E402


def main(names: list[str]) -> int:
    import duckdb

    work = os.path.join(hostenv.WORK, "pin")
    os.environ.update(hostenv.spark_env(work))
    from go_mailio_diskusage_handler_spark import registry
    from go_mailio_diskusage_handler_spark.session import build_session
    from go_mailio_diskusage_handler_spark.sources.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(workloads.FIXTURES, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    spark = build_session("perfbench-pin")
    pinned, excluded = {}, {}
    try:
        for name in names:
            if name not in registry.ORACLE_SQL:
                excluded[name] = "no oracle SQL"
                continue
            df = registry.QUERIES[name](spark, workloads.FIXTURES)
            cols = df.columns
            rows = df.collect()
            cur = con.execute(registry.ORACLE_SQL[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if sorted(ocols) != sorted(cols):
                excluded[name] = f"columns differ: spark={sorted(cols)} oracle={sorted(ocols)}"
            elif normalize(cols, rows) != normalize(ocols, orows):
                excluded[name] = f"values differ from the DuckDB oracle ({len(rows)} vs {len(orows)} rows)"
            else:
                n, sha = fingerprint(cols, rows)
                pinned[name] = {"rows": n, "sha256": sha}
            print(name, "pinned" if name in pinned else excluded[name], flush=True)
    finally:
        spark.stop()
    with open(workloads.EXPECTED, "w") as f:
        json.dump({"fixtures": "fixtures/sf0.01", "pinned": pinned,
                   "excluded": excluded}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or list(workloads.QUERIES)))
