"""Pins for the three round-12 ADVICE items (ADVICE.md, round 12):

1. (high) the custom inventory source's StringStartsWith pushdown;
   the source was later retired with its pin.
2. (low) bench.py's repeat loop tracks failure with an explicit flag
   instead of comparing the last rounded elapsed time against the
   60.0 s ERROR_PENALTY_SEC sentinel — a legitimate query that rounds
   to exactly 60.000 s must get all its repeats and no error record.
3. (low) DQ_EMBEDDINGS_ORACLE guards its norm legs with
   ``CASE WHEN len(embedding) = 0 THEN 0.0`` so an empty (length-0,
   non-NULL) list — a shape ``n_bad_dim`` explicitly anticipates —
   yields 0.0 in DuckDB exactly as Spark's ``F.aggregate`` 0.0 init
   does, instead of raising from ``list_reduce``.
"""
from __future__ import annotations

import math
import types

import duckdb
import pytest


# ---------------------------------------------------------------------------
# 2. bench failure sentinel is a flag, not a 60.000 s time comparison
# ---------------------------------------------------------------------------

class _FakeDF:
    def count(self):
        return 1


class _FakeSpark:
    catalog = types.SimpleNamespace(clearCache=lambda: None)


def test_bench_exact_60s_run_is_not_a_failure(monkeypatch):
    """A query whose every timed execution rounds to exactly 60.000 s
    must complete ALL repeats with no error recorded — before the fix,
    runs[-1] == ERROR_PENALTY_SEC aborted its remaining repeats."""
    import bench

    # perf_counter advances exactly 60.0 s between consecutive calls,
    # so every timed repeat records round(60.0, 3) == ERROR_PENALTY_SEC
    clock = {"t": 0.0}

    def fake_counter():
        clock["t"] += 60.0
        return clock["t"]

    monkeypatch.setattr(bench.time, "perf_counter", fake_counter)
    errors: dict[str, str] = {}
    runs = bench.time_query(
        _FakeSpark(), "q", lambda spark, sf: _FakeDF(), "/none",
        repeats=3, warmup=False, errors=errors,
    )
    assert runs == [60.0, 60.0, 60.0]  # all three repeats ran
    assert errors == {}


def test_bench_real_failure_still_breaks_and_records(monkeypatch):
    """The failure path still short-circuits: one penalty run, one
    error record, no 3x penalty."""
    import bench

    def boom(spark, sf):
        raise ValueError("fixture missing")

    errors: dict[str, str] = {}
    runs = bench.time_query(
        _FakeSpark(), "q", boom, "/none",
        repeats=3, warmup=False, errors=errors,
    )
    assert runs == [bench.ERROR_PENALTY_SEC]
    assert "ValueError" in errors["q"]

    # and a warm-up failure skips every timed repeat too
    errors2: dict[str, str] = {}
    runs2 = bench.time_query(
        _FakeSpark(), "q", boom, "/none",
        repeats=3, warmup=True, errors=errors2,
    )
    assert runs2 == [bench.ERROR_PENALTY_SEC]
    assert "ValueError" in errors2["q"]


# ---------------------------------------------------------------------------
# 3. DQ embeddings oracle degrades identically on empty lists
# ---------------------------------------------------------------------------

def test_dq_embeddings_oracle_empty_list_guard(spark):
    """An empty (length-0, non-NULL) embedding must NOT crash the
    DuckDB oracle, and both engines must agree on every output —
    min_norm picks up the 0.0 an empty vector folds to."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.queries import q_dq as q

    con = duckdb.connect()
    con.execute(
        """CREATE VIEW embeddings AS SELECT * FROM (VALUES
             (1, [3.0::FLOAT, 4.0::FLOAT], 2),
             (2, []::FLOAT[], 1),
             (3, NULL::FLOAT[], 11),
             (3, [0.0::FLOAT, 0.0::FLOAT], 0)
           ) t(vec_id, embedding, label)"""
    )
    oracle = con.execute(q.DQ_EMBEDDINGS_ORACLE).fetchone()
    con.close()
    n_rows, n_null, n_bad_dim, n_nonfinite, n_zero, n_dup, n_bad_label, \
        min_norm, max_norm = oracle
    assert (n_rows, n_null, n_bad_dim, n_nonfinite, n_zero, n_dup,
            n_bad_label) == (4, 1, 3, 0, 2, 1, 1)
    assert min_norm == 0.0 and max_norm == 5.0

    # Spark side over the same rows: bit-identical outputs
    sdf = spark.createDataFrame(
        [(1, [3.0, 4.0], 2), (2, [], 1), (3, None, 11), (3, [0.0, 0.0], 0)],
        "vec_id int, embedding array<float>, label int",
    )
    vec = F.col("embedding")
    sq_sum = F.aggregate(
        vec, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.sqrt(sq_sum)
    row = sdf.agg(
        F.min(norm).alias("min_norm"), F.max(norm).alias("max_norm")
    ).collect()[0]
    assert row.min_norm == min_norm == 0.0
    assert row.max_norm == max_norm == 5.0
    assert math.isfinite(row.max_norm)
