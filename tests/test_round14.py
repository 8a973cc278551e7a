"""Round-14 additions: oracle parity + plan/semantic pins for
``events_overlap_join`` and ``scalar_variant_roundtrip``, plus the
operator-level contracts of the interval-overlap join and the
physical shape of the VARIANT round-trip write.
"""
from __future__ import annotations

import glob
import os

import duckdb
import pytest

from conftest import SF_CORRECT, SF_SMOKE, compare_with_oracle, normalize

from go_mailio_diskusage_handler_spark import registry
from go_mailio_diskusage_handler_spark.sources.tables import TABLES


NEW_QUERIES = [
    "events_overlap_join",
    "scalar_variant_roundtrip",
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


# ---------------------------------------------------------------------------
# overlap join: plan and operator contracts
# ---------------------------------------------------------------------------

def test_overlap_join_is_binned_not_nested_loop(spark):
    """The 100 TB point of the query: the pure overlap theta join must
    plan as a hash equi-join on the day bin (range predicate inside
    the join), NEVER as BroadcastNestedLoopJoin / CartesianProduct —
    the O(|mw|·|act|) shape the bin rewrite exists to avoid."""
    df = registry.QUERIES["events_overlap_join"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert "HashJoin" in plan, plan
    assert "Python" not in plan  # fully JVM-side


def test_overlap_join_matches_naive_theta_join(spark):
    """Exactly-once end-to-end: the binned overlap join's matched
    PAIRS equal the naive cross-join + filter on a small slice — no
    pair lost (reference bin always shared) and none duplicated (one
    reference bin per pair)."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        overlap_join,
    )
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events")
    base = F.to_timestamp(F.lit("2024-01-03"))
    left = spark.range(30).select(
        F.col("id").alias("l_id"),
        (base + F.make_interval(
            hours=(F.col("id") * 11 % 120).cast("int"))).alias("s2"),
    ).withColumn("e2", F.col("s2") + F.make_interval(
        hours=(F.lit(2) + F.col("l_id") % 50).cast("int")))
    act = (
        events.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.min("ts").alias("s1"),
            (F.max("ts") + F.make_interval(
                mins=F.lit(1).cast("int"))).alias("e1"),
        )
        .drop("d")
    )
    binned = normalize([
        (r.l_id, r.user_id, r.s1)
        for r in overlap_join(
            left, act,
            left_start="s2", left_end="e2",
            right_start="s1", right_end="e1",
        ).select("l_id", "user_id", "s1").collect()
    ])
    naive = normalize([
        (r.l_id, r.user_id, r.s1)
        for r in left.crossJoin(act)
        .filter((F.col("s1") < F.col("e2")) & (F.col("s2") < F.col("e1")))
        .select("l_id", "user_id", "s1").collect()
    ])
    assert binned == naive
    assert len(binned) > 0  # non-vacuous


def test_overlap_join_bin_width_invariance(spark):
    """The operator contract: bin width affects COST only — day /
    hour / minute bins return identical matched pairs (the reference
    bin is width-consistent on both sides of the dedup filter)."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        overlap_join,
    )

    base = F.to_timestamp(F.lit("2024-01-03"))
    left = spark.range(25).select(
        F.col("id").alias("l_id"),
        (base + F.make_interval(
            hours=(F.col("id") * 7 % 96).cast("int"))).alias("s2"),
    ).withColumn("e2", F.col("s2") + F.make_interval(
        hours=(F.lit(1) + F.col("l_id") % 40).cast("int")))
    right = spark.range(40).select(
        F.col("id").alias("r_id"),
        (base + F.make_interval(
            hours=(F.col("id") * 5 % 100).cast("int"),
            mins=(F.col("id") * 13 % 60).cast("int"))).alias("s1"),
    ).withColumn("e1", F.col("s1") + F.make_interval(
        hours=(F.lit(1) + F.col("r_id") % 20).cast("int")))
    outs = {}
    for w in ("day", "hour", "minute"):
        outs[w] = normalize([
            (r.l_id, r.r_id)
            for r in overlap_join(
                left, right,
                left_start="s2", left_end="e2",
                right_start="s1", right_end="e1",
                bin_width=w,
            ).select("l_id", "r_id").collect()
        ])
    assert outs["day"] == outs["hour"] == outs["minute"]
    assert len(outs["day"]) > 0

    with pytest.raises(ValueError):
        overlap_join(
            left, right,
            left_start="s2", left_end="e2",
            right_start="s1", right_end="e1",
            bin_width="fortnight",
        )


def test_overlap_join_inverted_intervals_are_free(spark):
    """Both sides carry the degenerate-interval guard: inverted rows
    (e < s) on either side change nothing and cost no bins."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        overlap_join,
    )

    def mk(n, tag):
        base = F.to_timestamp(F.lit("2024-01-03"))
        return spark.range(n).select(
            F.col("id").alias(f"{tag}_id"),
            (base + F.make_interval(
                hours=(F.col("id") * 9 % 72).cast("int"))).alias(
                    "s1" if tag == "r" else "s2"),
        ).withColumn(
            "e1" if tag == "r" else "e2",
            F.col("s1" if tag == "r" else "s2")
            + F.make_interval(hours=F.lit(5).cast("int")),
        )

    left, right = mk(15, "l"), mk(20, "r")
    bad_left = spark.createDataFrame(
        [(99, "2024-06-01 00:00:00", "2023-06-01 00:00:00")],
        "l_id long, s2_raw string, e2_raw string",
    ).select(
        "l_id",
        F.to_timestamp("s2_raw").alias("s2"),
        F.to_timestamp("e2_raw").alias("e2"),
    )

    def pairs(lf):
        return normalize([
            (r.l_id, r.r_id)
            for r in overlap_join(
                lf, right,
                left_start="s2", left_end="e2",
                right_start="s1", right_end="e1",
            ).select("l_id", "r_id").collect()
        ])

    assert pairs(left.unionByName(bad_left)) == pairs(left)
    assert len(pairs(left)) > 0


def test_point_join_is_degenerate_overlap(spark):
    """The generalization claim, executed: interval_join(iv, points)
    ≡ overlap_join(iv, points-as-zero-length-intervals).  A point t is
    the half-open [t, t+ε) with any ε ≤ one unit of the overlap
    predicate; with timestamps, [t, t + 1 microsecond) makes
    s1 < e2 AND s2 < e1  ⇔  t ≥ s AND t < e exactly."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.intervals import (
        interval_join,
        overlap_join,
    )
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    events = load_table(spark, SF_SMOKE, "events").select("event_id", "ts")
    base = F.to_timestamp(F.lit("2024-01-03"))
    iv = spark.range(20).select(
        F.col("id").alias("iv_id"),
        (base + F.make_interval(
            hours=(F.col("id") * 13 % 96).cast("int"))).alias("s"),
    ).withColumn("e", F.col("s") + F.make_interval(
        hours=(F.lit(4) + F.col("iv_id") % 20).cast("int")))
    via_point = normalize([
        (r.iv_id, r.event_id)
        for r in interval_join(iv, events).select("iv_id", "event_id")
        .collect()
    ])
    pts = events.select(
        "event_id",
        F.col("ts").alias("ps"),
        (F.col("ts") + F.expr("INTERVAL 1 MICROSECOND")).alias("pe"),
    )
    via_overlap = normalize([
        (r.iv_id, r.event_id)
        for r in overlap_join(
            iv, pts,
            left_start="s", left_end="e",
            right_start="ps", right_end="pe",
        ).select("iv_id", "event_id").collect()
    ])
    assert via_point == via_overlap
    assert len(via_point) > 0


# ---------------------------------------------------------------------------
# VARIANT round trip: physical shape + JVM-only plan
# ---------------------------------------------------------------------------

def test_variant_roundtrip_written_files_are_unshredded_variant(spark):
    """The storage half, physically: the scratch parquet's footer must
    carry the binary VARIANT encoding — the metadata/value field pair
    — and NO ``typed_value`` columns (the parquet variant-shredding
    spec's field name; this build has no shredded-write conf, and the
    docstring claims unshredded, so pin it).  pyarrow/DuckDB cannot
    parse the Variant logical type, which is why the check reads the
    raw footer bytes for the thrift-encoded field-name strings."""
    from go_mailio_diskusage_handler_spark.queries.q_scalar import (
        variant_scratch_path,
    )

    registry.QUERIES["scalar_variant_roundtrip"](spark, SF_SMOKE).collect()
    files = glob.glob(
        os.path.join(variant_scratch_path(SF_SMOKE), "*.parquet")
    )
    assert files, "round trip left no parquet behind"
    foot = open(files[0], "rb").read()[-65536:]
    assert b"metadata" in foot and b"value" in foot
    assert b"typed_value" not in foot
    # and Spark reads the column back as a true VARIANT type
    back = spark.read.parquet(variant_scratch_path(SF_SMOKE))
    assert back.schema["v"].dataType.simpleString() == "variant"


def test_variant_roundtrip_is_python_free(spark):
    """Parse, store, re-load, classify, aggregate — zero Python eval
    nodes in the read-back profile plan."""
    df = registry.QUERIES["scalar_variant_roundtrip"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_variant_roundtrip_idempotent_across_repeats(spark):
    """mode=overwrite + deterministic scratch path: running the query
    twice (the bench repeat pattern) yields identical results and one
    parquet generation, not an accumulation."""
    a = normalize([
        tuple(r) for r in
        registry.QUERIES["scalar_variant_roundtrip"](spark, SF_SMOKE)
        .collect()
    ])
    b = normalize([
        tuple(r) for r in
        registry.QUERIES["scalar_variant_roundtrip"](spark, SF_SMOKE)
        .collect()
    ])
    assert a == b
