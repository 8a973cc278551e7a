"""Round-11 regression tests: the last Spark-4 public-API surfaces
with no registry query (round-10 verdict #7) — DataFrame.transpose,
the VARIANT_EXPLODE lateral TVF, and lateral column aliases — each
oracle-parity-checked at sf0.01, plus shape invariants the oracle
hash can't see.
"""
from __future__ import annotations

from conftest import SF_CORRECT, compare_with_oracle  # noqa: F401


def test_oracle_parity_lateral_alias(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_lateral_alias_margin",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_oracle_parity_transpose(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "scalar_transpose_metrics",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_oracle_parity_variant_explode(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "scalar_variant_explode",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_oracle_parity_pipe_syntax(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_pipe_priority_revenue",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_pipe_syntax_plans_like_clause_form(spark):
    """The pipe program optimizes to the clause-ordered query's plan:
    the status filter reaches the scan (pushed filter), one hash
    aggregate, and the post-aggregate pipe WHERE is a filter above it
    — no extra shuffle or subquery."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["sql_pipe_priority_revenue"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in plan


def test_oracle_parity_groupingsets_df(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "scalar_groupingsets_df",
        registry.QUERIES, registry.ORACLE_SQL,
    )


def test_groupingsets_df_plans_single_expand(spark):
    """The DataFrame-API grouping sets compile to the same physical
    shape as the SQL form: exactly one Expand node (the |sets|-way
    fan-out) and no union of separate aggregates."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["scalar_groupingsets_df"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert "Union" not in plan


def test_to_arrow_round_trips_with_create_dataframe(spark):
    """`DataFrame.toArrow()` / `createDataFrame(pyarrow.Table)`
    (Spark 4.0): the driver-side Arrow exchange round-trips values and
    schema exactly — the zero-copy hand-off a pandas-free feature
    pipeline uses to move BOUNDED results (aggregates, codebooks)
    between Spark and Arrow-native libraries.  Driver-side by design:
    only ever applied to post-aggregate frames, like transpose."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    agg = (
        load_table(spark, SF_CORRECT, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )
    tbl = agg.toArrow()
    assert isinstance(tbl, pa.Table)
    assert tbl.schema.names == ["event_type", "n", "total"]
    back = spark.createDataFrame(tbl)
    assert back.schema == agg.schema
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, agg.collect())
    )


def test_transpose_column_order_is_flag_sorted(spark):
    """transpose mints result columns from the index column's values in
    the input's row order; the orderBy before it pins A < N < R, so the
    schema is deterministic across partitionings (the property the
    driver's stable-schema check rests on)."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["scalar_transpose_metrics"](spark, SF_CORRECT)
    assert df.columns == ["key", "A", "N", "R"]
    keys = [r.key for r in df.select("key").collect()]
    assert sorted(keys) == ["avg_disc", "sum_price", "sum_qty"]


def test_lateral_alias_chain_resolves_to_single_aggregate(spark):
    """The alias chain (net -> est_tax -> gross) is inline-expanded at
    analysis time: the optimized plan contains exactly one Aggregate
    and no Join/subquery — the reason the surface is free at scale."""
    from go_mailio_diskusage_handler_spark import registry

    df = registry.QUERIES["sql_lateral_alias_margin"](spark, SF_CORRECT)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Aggregate") == 1
    assert "Join" not in optimized


def test_variant_explode_fans_out_three_keys_per_row(spark):
    """Each event contributes exactly one entry per constructed key
    (et / hi / k): n_entries equals the table's row count for every
    key, and the exploded values preserve JSON typing (quoted strings
    for et, bare booleans for hi, bare ints for k)."""
    from go_mailio_diskusage_handler_spark import registry
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    n_events = load_table(spark, SF_CORRECT, "events").count()
    rows = {
        r.key: r
        for r in registry.QUERIES["scalar_variant_explode"](
            spark, SF_CORRECT
        ).collect()
    }
    assert set(rows) == {"et", "hi", "k"}
    assert all(r.n_entries == n_events for r in rows.values())
    assert rows["et"].min_value.startswith('"')
    assert rows["hi"].min_value in ("false", "true")
    assert not rows["k"].min_value.startswith('"')
