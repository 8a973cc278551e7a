"""Round-13 additions: oracle parity + plan/semantic pins for
``events_interval_join`` and ``scalar_variant_ingest``.
"""
from __future__ import annotations

import duckdb
import pytest

from conftest import SF_CORRECT, SF_SMOKE, compare_with_oracle, normalize

from go_mailio_diskusage_handler_spark import registry
from go_mailio_diskusage_handler_spark.sources.tables import TABLES


NEW_QUERIES = [
    "events_interval_join",
    "scalar_variant_ingest",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_oracle_parity_smoke_scale(spark, name):
    """Degenerate-scale leg on landing day (the r12 convention: new
    queries sweep every available axis before their first driver
    row)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    try:
        compare_with_oracle(
            spark, con, name, registry.QUERIES, registry.ORACLE_SQL,
            sf_dir=SF_SMOKE,
        )
    finally:
        con.close()


def test_interval_join_is_binned_not_nested_loop(spark):
    """The 100 TB point of the query: the pure range join must plan as
    a hash equi-join on the day bin (with the range predicate inside
    the join), NEVER as BroadcastNestedLoopJoin / CartesianProduct —
    that is the O(|iv|·|events|) shape the bin rewrite exists to
    avoid."""
    df = registry.QUERIES["events_interval_join"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "HashJoin" in plan, plan
    assert "Python" not in plan  # fully JVM-side


def test_interval_join_bin_membership_is_exactly_once(spark):
    """Each event lives in exactly ONE day bin, so the binned join
    cannot double-count: total matches == the naive per-pair count
    computed independently on a small slice."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    res = registry.QUERIES["events_interval_join"](spark, SF_SMOKE)
    total_binned = res.agg(F.sum("n_events")).collect()[0][0]
    orders = load_table(spark, SF_SMOKE, "orders")
    events = load_table(spark, SF_SMOKE, "events")
    base = F.to_timestamp(F.lit("2024-01-01"))
    iv = (
        orders.filter(F.col("o_totalprice") > 480000)
        .select(
            "o_orderkey",
            (base + F.make_interval(
                days=(F.col("o_orderkey") % 28).cast("int"),
                hours=(F.col("o_orderkey") % 24).cast("int"),
            )).alias("s"),
        )
        .withColumn("e", F.col("s") + F.make_interval(
            days=(F.lit(1) + F.col("o_orderkey") % 5).cast("int")))
    )
    naive = (
        iv.crossJoin(events.select("ts"))
        .filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .count()
    )
    assert total_binned == naive


def test_variant_ingest_is_python_free(spark):
    """VARIANT parse + path gets are JVM expressions; the profile must
    carry zero Python eval nodes."""
    df = registry.QUERIES["scalar_variant_ingest"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_interval_join_operator_bin_width_invariance(spark):
    """The operator contract: bin width affects COST only — day /
    hour / minute bins return identical matched pairs on the same
    inputs (each point still lives in exactly one bin of each width)."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        interval_join,
    )
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events").select("event_id", "ts")
    base = F.to_timestamp(F.lit("2024-01-03"))
    iv = spark.range(40).select(
        F.col("id").alias("iv_id"),
        (base + F.make_interval(
            hours=(F.col("id") * 7 % 96).cast("int"))).alias("s"),
    ).withColumn("e", F.col("s") + F.make_interval(
        hours=(F.lit(3) + F.col("iv_id") % 30).cast("int")))
    outs = {}
    for w in ("day", "hour", "minute"):
        outs[w] = normalize([
            (r.iv_id, r.event_id)
            for r in interval_join(iv, events, bin_width=w)
            .select("iv_id", "event_id").collect()
        ])
    assert outs["day"] == outs["hour"] == outs["minute"]
    assert len(outs["day"]) > 0  # non-vacuous

    # and the rejected-knob contract
    import pytest as _pytest

    with _pytest.raises(ValueError):
        interval_join(iv, events, bin_width="fortnight")


def test_interval_join_operator_matches_naive_theta(spark):
    """Exactness on a slice: the binned operator == the naive cross
    join + range filter, pair-for-pair."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        interval_join,
    )
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events").select("event_id", "ts")
    base = F.to_timestamp(F.lit("2024-01-05"))
    iv = spark.range(25).select(
        F.col("id").alias("iv_id"),
        (base + F.make_interval(
            hours=(F.col("id") * 11 % 72).cast("int"))).alias("s"),
    ).withColumn("e", F.col("s") + F.make_interval(
        hours=(F.lit(1) + F.col("iv_id") % 40).cast("int")))
    got = normalize([
        (r.iv_id, r.event_id)
        for r in interval_join(iv, events, bin_width="hour")
        .select("iv_id", "event_id").collect()
    ])
    naive = normalize([
        (r.iv_id, r.event_id)
        for r in iv.crossJoin(events)
        .filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .select("iv_id", "event_id").collect()
    ])
    assert got == naive
