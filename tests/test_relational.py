"""[EXT] relational + scalar queries: DuckDB oracle parity and
physical-plan shape (broadcast joins, top-k without global sort)."""

from __future__ import annotations

import pytest

from go_mailio_diskusage_handler_spark import plans, registry
from go_mailio_diskusage_handler_spark.queries import q_sql
from go_mailio_diskusage_handler_spark.queries._base import ONE_TEXT
from go_mailio_diskusage_handler_spark.sources.tables import load_table

from conftest import SF_CORRECT, compare_with_oracle

ORACLE_CHECKED = [
    "scalar_zorder_keys",
    "percentile_mad_outliers",
    "join_bucketed_spend",
    "window_first_last",
    "trend_daily_dense",
    "profile_orders",
    "trend_weekly_wow",
    "scalar_try_parse",
    "segment_rfm",
    "topk_addresses",
    "window_top_orders",
    "window_running_total",
    "join_revenue_by_region",
    "anti_customers_without_orders",
    "setop_lapsed_customers",
    "rollup_order_stats",
    "distinct_customers_per_status",
    "scalar_monthly_orders",
    "scalar_math_buckets",
    "scalar_json_events",
    "scalar_embedding_arrays",
    "events_tumbling_window",
    "inventory_diff",
    "pivot_status_revenue",
    "percentile_order_value",
    "cube_lineitem_flags",
    "events_session_window",
    "du_quality_check",
    "salted_event_totals",
    "semi_customers_with_orders",
    "part_brand_stats",
    "supplier_nation_balance",
    "star_profit_by_nation_brand",
    "docs_source_stats",
    "segment_customer_value",
    "setop_retained_customers",
    "events_asof_join",
    "window_order_gaps",
    "range_join_price_bands",
    "events_attribution_join",
    "unpivot_lineitem_measures",
    "window_moving_spend",
    "scalar_map_props",
    "approx_distinct_customers",
    "approx_order_percentiles",
    "approx_top_event_types",
    "window_segment_deciles",
    "trend_customer_spend",
    "part_type_affinity",
    "part_affinity_lift",
    "events_sketch_merge",
    "events_bitmap_users",
    "events_kll_quantiles",
    "events_theta_retention",
    "scalar_variant_props",
    "join_spend_reconcile",
    "docs_index_coverage",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


def test_approx_distinct_within_rsd(spark, ddb):
    """HLL++ estimate vs exact: the query now emits the invariant
    itself (exact count + within_tol boolean) so the oracle can hash
    it; assert both halves here."""
    row = registry.QUERIES["approx_distinct_customers"](spark, SF_CORRECT).collect()[0]
    exact = ddb.execute("SELECT COUNT(DISTINCT o_custkey) FROM orders").fetchone()[0]
    assert row["exact_distinct"] == exact
    assert row["within_tol"] is True


def test_star_join_broadcasts_dims(spark):
    """The 100 TB plan requirement: no shuffle of the fact table for
    dimension joins — every join in the star must be broadcast."""
    df = registry.QUERIES["join_revenue_by_region"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, f"dim join fell back to SMJ:\n{plan}"
    # exactly one shuffle: the final groupBy on r_name
    assert plans.shuffle_count(df) <= 1, plan


def test_fact_star_join_has_single_shuffle(spark):
    """TPC-H Q9 shape: three broadcast dims, fact never shuffles for
    the joins — only the final group-by exchange remains."""
    df = registry.QUERIES["star_profit_by_nation_brand"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert plans.shuffle_count(df) <= 1, plan


def test_topk_uses_take_ordered(spark):
    """orderBy().limit(k) must compile to TakeOrderedAndProject —
    per-partition heaps, no global sort of the aggregate."""
    df = registry.QUERIES["topk_addresses"](spark, SF_CORRECT)
    assert "TakeOrderedAndProject" in plans.executed_plan(df)


def test_windows_are_partitioned(spark):
    """No unpartitioned window (would serialize all data into one task)."""
    for name in (
        "window_top_orders",
        "window_running_total",
        "window_segment_deciles",
    ):
        plan = plans.executed_plan(registry.QUERIES[name](spark, SF_CORRECT))
        assert "Window" in plan
        assert "SinglePartition" not in plan, f"{name} window is unpartitioned:\n{plan}"


# The recursive spine's body only adds session state around its one text.
SAME_TEXT = {**ONE_TEXT, "sql_recursive_spine": q_sql.RECURSIVE_SPINE_SQL}


@pytest.mark.parametrize("name", sorted(SAME_TEXT))
def test_sql_surface_oracle_parity(spark, ddb, name):
    """The textual spark.sql surface must hash-match DuckDB running the
    SAME SQL string (one query text, two engines): every ``ONE_TEXT``
    query of the registry, plus the recursive spine."""
    assert registry.ORACLE_SQL[name] == SAME_TEXT[name]
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


def test_range_join_is_hash_not_nested_loop(spark):
    """Grid bucketization must turn the interval predicate into an
    equi-join: BroadcastHashJoin on `cell`, never a nested loop."""
    df = registry.QUERIES["range_join_price_bands"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, f"range join fell back to nested loop:\n{plan}"


def test_grouping_sets_single_expand(spark):
    """Four grouping sets must run as one Expand + one aggregation
    pipeline, not four scans unioned together."""
    df = registry.QUERIES["sql_grouping_sets"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan


def test_sql_shipping_priority_broadcasts_dimensions(spark):
    df = registry.QUERIES["sql_shipping_priority"](spark, SF_CORRECT)
    assert plans.has_broadcast_join(df)


def test_correlated_subquery_is_decorrelated(spark):
    """The correlated scalar subquery must compile to an aggregate +
    join — per-row subquery re-execution would be O(rows) probes at
    100 TB."""
    df = registry.QUERIES["sql_correlated_above_avg"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "Join" in plan, plan
    assert df.count() > 0


def test_unpivot_is_expand_not_union(spark):
    """Melt must compile to a single Expand over one scan — a UNION ALL
    of per-measure scans would read the table four times."""
    df = registry.QUERIES["unpivot_lineitem_measures"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "Expand" in plan, plan
    assert "Union" not in plan, plan


def test_approx_percentiles_within_rank_error(spark, ddb):
    """GK sketch vs exact percentiles: the query emits the invariant
    (exact interpolated quantiles + within-1% booleans); check the
    booleans and that the exact side matches DuckDB quantile_cont."""
    row = registry.QUERIES["approx_order_percentiles"](spark, SF_CORRECT).collect()[0]
    for col, q in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
        assert row[f"{col}_ok"] is True, (col, row)
        exact = ddb.execute(
            f"SELECT ROUND(quantile_cont(o_totalprice, {q}), 4) FROM orders"
        ).fetchone()[0]
        assert row[f"{col}_exact"] == pytest.approx(exact, abs=1e-4), (col, row)


# Nodes that must never appear in a registered query's plan: a
# cartesian product explodes quadratically at scale, and a
# row-at-a-time Python eval (BatchEvalPython / BatchEvalPythonUDTF —
# as opposed to Arrow-vectorized ArrowEvalPython / MapInPandas /
# FlatMapGroupsInPandas nodes) serializes every row through the
# interpreter on the hot path.
_PLAN_ANTIPATTERNS = ("CartesianProduct", "BatchEvalPython")


def test_no_registered_query_uses_antipattern_nodes(spark):
    """Sweep EVERY registered query's physical plan for scale
    antipatterns — coverage can't regress silently into a cartesian
    join or row-at-a-time Python."""
    bad = {}
    for name, fn in registry.QUERIES.items():
        plan = plans.executed_plan(fn(spark, SF_CORRECT))
        hits = [n for n in _PLAN_ANTIPATTERNS if n in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_returned_revenue_plan_shape(spark):
    """Q10 shape: nation broadcast, top-20 via TakeOrderedAndProject
    (no global sort of the aggregate)."""
    df = registry.QUERIES["sql_returned_revenue"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plans.has_broadcast_join(df), plan


def test_sales_opportunity_compiles_to_anti_join(spark):
    """NOT EXISTS must become ONE left-anti join pass and the scalar
    AVG subquery a 1-row broadcast — never per-row subquery probes."""
    df = registry.QUERIES["sql_sales_opportunity"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "LeftAnti" in plan, plan
    assert "Broadcast" in plan, plan


def test_spend_trend_recovers_known_slope(spark):
    """Hand-built series: y = 100·x + 50 over days 0..4 must recover
    slope 100 exactly; a flat series recovers 0; a single-day customer
    (denominator 0) must be excluded, as must one below min_orders."""
    from datetime import datetime

    from go_mailio_diskusage_handler_spark.operators import relational as R

    def o(ck, day, price, key):
        return (key, ck, datetime(1992, 1, 1 + day), float(price))

    rows = (
        [o(1, d, 100.0 * d + 50.0, d) for d in range(5)]
        + [o(2, d, 777.0, 100 + d) for d in range(5)]
        + [o(3, 0, 10.0 * k, 200 + k) for k in range(6)]   # all same day
        + [o(4, d, 5.0 * d, 300 + d) for d in range(3)]    # n < min_orders
    )
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderdate timestamp, o_totalprice double"
    )
    got = {r.o_custkey: r.spend_slope for r in R.customer_spend_trend(orders).collect()}
    assert got == {1: 100.0, 2: 0.0}, got


def test_sketch_union_equals_single_level_sketch(spark):
    """Merge correctness, not just accuracy: unioning per-day HLL
    partials must give the SAME estimate as one sketch over all the
    data — the defining property of a mergeable sketch."""
    from pyspark.sql import functions as F2

    events = load_table(spark, SF_CORRECT, "events").filter(
        F2.col("user_id").isNotNull()
    )
    daily = events.groupBy(
        "event_type", F2.date_trunc("day", "ts").alias("d")
    ).agg(F2.hll_sketch_agg("user_id").alias("sk"))
    merged = {
        r.event_type: r.est
        for r in daily.groupBy("event_type")
        .agg(F2.hll_sketch_estimate(F2.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    single = {
        r.event_type: r.est
        for r in events.groupBy("event_type")
        .agg(F2.hll_sketch_estimate(F2.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == single


def test_morton_interleave_known_values(spark):
    """Hand-computed Morton codes: interleave(10, 5) — x bits on even
    positions, y bits on odd — is 0b01100110... check a few."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators.relational import (
        _morton_interleave,
    )

    df = spark.createDataFrame(
        [(10, 5), (0, 0), (255, 0), (0, 255), (255, 255), (1, 1)],
        "x long, y long",
    )
    got = [
        r.z
        for r in df.select(
            _morton_interleave(F.col("x"), F.col("y")).alias("z")
        ).collect()
    ]

    def ref(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == [ref(x, y) for x, y in
                   [(10, 5), (0, 0), (255, 0), (0, 255), (255, 255), (1, 1)]]
    assert ref(10, 5) == 0b01000100 | 0b00100010


def test_zorder_partitions_have_local_bounding_boxes(spark):
    """The property data skipping monetizes: after repartitionByRange
    on z_key, each partition's (bucket_x, bucket_y) bounding box must
    cover a small corner of the domain, not a full-width stripe — so
    min/max stats prune on EITHER dimension.  Contrast: range-
    partitioning on bucket_x alone leaves bucket_y spanning ~the full
    256 in every partition."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import relational

    zk = relational.zorder_keys(load_table(spark, SF_CORRECT, "orders"))
    boxes = (
        zk.repartitionByRange(16, "z_key")
        .select(
            "bucket_x", "bucket_y", F.spark_partition_id().alias("pid")
        )
        .groupBy("pid")
        .agg(
            (F.max("bucket_x") - F.min("bucket_x") + 1).alias("wx"),
            (F.max("bucket_y") - F.min("bucket_y") + 1).alias("wy"),
        )
        .collect()
    )
    assert len(boxes) >= 8
    mean_area = sum(r.wx * r.wy for r in boxes) / len(boxes)
    domain = 256 * 256
    assert mean_area < domain / 4, (mean_area, domain)
    # And the y-dimension specifically must be bounded (the dimension
    # a single-column sort would leave unpruned).
    assert sum(r.wy for r in boxes) / len(boxes) < 256 * 0.75


def test_waiting_suppliers_compiles_to_semi_and_anti_joins(spark):
    """Q21 shape: the EXISTS pair must become one LeftSemi and one
    LeftAnti join on l_orderkey — never per-row correlated probes."""
    df = registry.QUERIES["sql_waiting_suppliers"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_small_qty_revenue_decorrelates(spark):
    """Q17 shape: the correlated per-part AVG must decorrelate into an
    aggregate joined back on l_partkey (no per-row subquery), and the
    brand filter must push into the part scan."""
    df = registry.QUERIES["sql_small_qty_revenue"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "HashAggregate" in plan, plan
    assert "PushedFilters" in plan and "Brand#4" in plan, plan


def test_bucketed_join_has_no_exchange(spark):
    """The whole point of bucketing: the fact-to-fact merge join must
    read both bucketed tables WITHOUT an Exchange on the join key —
    the partitioning lives in the storage layout.  (The aggregation
    after the join also reuses it: custkey buckets subsume the
    nationkey grouping only via another exchange, so exactly the
    post-join agg may shuffle — the JOIN itself must not.)"""
    df = registry.QUERIES["join_bucketed_spend"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "SortMergeJoin" in plan, plan
    join_part = plan.split("SortMergeJoin")[-1]
    # Below (after) the join node in the printed tree: the scan side.
    # No Exchange may appear between the join and the table scans.
    assert "Exchange" not in join_part, plan


def test_profiler_is_single_pass(spark):
    """The profiler must compute ALL columns' stats in one aggregation
    over one scan — exactly one FileScan in the plan."""
    df = registry.QUERIES["profile_orders"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert plan.count("Scan parquet") == 1, plan


def test_dense_resample_fills_gaps_with_zero(spark):
    """Every calendar day between min and max appears exactly once;
    days without orders carry (0.0, 0)."""
    from datetime import date

    rows = registry.QUERIES["trend_daily_dense"](spark, SF_CORRECT).collect()
    days = [date.fromisoformat(r.day) for r in rows]
    assert len(days) == len(set(days))
    span = (max(days) - min(days)).days + 1
    assert len(days) == span
    zero_days = [r for r in rows if r.n_orders == 0]
    assert all(r.revenue == 0.0 for r in zero_days)


def test_bracket_revenue_pushes_disjunction_into_part_scan(spark):
    """Q19 shape: the part-only disjunction must reach the part scan
    (PushedFilters mentions the brands) and the filtered part side
    must broadcast — the OR is not evaluated post-join."""
    df = registry.QUERIES["sql_bracket_revenue"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "Brand#1" in plan and "Brand#3" in plan, plan
    assert plans.has_broadcast_join(df), plan


def test_theta_retention_known_values(spark):
    """Synthetic 3-day fixture with a data gap: retention pairs follow
    the DISTINCT days present (day 4 pairs with day 2 across the
    missing day 3), and the theta estimates are exact at this
    cardinality, so every flag must be true."""
    from datetime import datetime

    from go_mailio_diskusage_handler_spark.functions import scalars

    rows = []
    for day, users in ((1, [1, 2, 3]), (2, [2, 3, 4, 5]), (4, [5, 9])):
        rows += [
            (datetime(2024, 1, day, 12, 0, 0), u, "view", 1.0) for u in users
        ]
    ev = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double"
    )
    got = {r.day: r for r in scalars.theta_retained_users(ev).collect()}
    assert set(got) == {"2024-01-02", "2024-01-04"}
    assert (got["2024-01-02"].exact_retained, got["2024-01-02"].exact_new) == (2, 2)
    assert (got["2024-01-04"].exact_retained, got["2024-01-04"].exact_new) == (1, 1)
    assert all(r.retained_ok and r.new_ok for r in got.values())


def test_kll_rollup_n_is_lossless_and_quantiles_ranked(spark):
    """KLL invariant on a skewed synthetic column: the merged sketch's
    n equals the exact count (KLL never drops count), and every
    estimated quantile's true rank is within tolerance."""
    from datetime import datetime

    from go_mailio_diskusage_handler_spark.functions import scalars

    rows = [
        (datetime(2024, 1, 1 + (i % 5), 8, 0, 0), i, "click", float(i * i % 977))
        for i in range(2000)
    ]
    ev = spark.createDataFrame(
        rows, "ts timestamp, user_id long, event_type string, value double"
    )
    out = scalars.mergeable_value_quantiles(ev).collect()
    assert len(out) == 1 and out[0].n_values == 2000
    r = out[0]
    assert r.n_ok and r.q50_ok and r.q90_ok and r.q99_ok
