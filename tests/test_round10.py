"""Round-10 regression tests: the full-outer interval join (run as a
batch frame by its registry query) and the cheapened similarity-oracle
helpers.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from conftest import SF_CORRECT, compare_with_oracle  # noqa: F401


# ---------------------------------------------------------------------------
# Round-10 addition: full-outer interval join (batch twin parity)
# ---------------------------------------------------------------------------


def test_oracle_parity_attribution_full_outer(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark,
        ddb,
        "events_attribution_full_outer",
        registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_full_outer_join_covers_both_sides(spark):
    """Every purchase and every click appears at least once; matched
    rows agree with the inner join; unmatched rows are null-padded on
    exactly one side and carry the coalesced user_id."""
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming import windows

    events = load_table(spark, f"{SF_CORRECT}/../sf0.001", "events")
    rows = windows.attributed_purchases_full_outer(events).collect()
    inner = {
        (r.purchase_id, r.click_id)
        for r in windows.attributed_purchases(events).collect()
    }
    purchases = {
        r.event_id
        for r in events.filter(F.col("event_type") == "purchase").collect()
    }
    clicks = {
        r.event_id
        for r in events.filter(F.col("event_type") == "click").collect()
    }
    assert {(r.purchase_id, r.click_id) for r in rows if r.click_id is not None
            and r.purchase_id is not None} == inner
    assert {r.purchase_id for r in rows if r.purchase_id is not None} == purchases
    assert {r.click_id for r in rows if r.click_id is not None} == clicks
    for r in rows:
        assert r.user_id is not None  # coalesced key survives both directions
        if r.purchase_id is None:
            assert r.click_id is not None and r.purchase_ts is None
        if r.click_id is None:
            assert r.purchase_id is not None and r.click_ts is None


# ---------------------------------------------------------------------------
# Round-10 addition: cogroup(...).applyInArrow tier
# ---------------------------------------------------------------------------


def test_oracle_parity_cogroup_arrow_stats(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "udf_cogroup_arrow_stats", registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_cogroup_arrow_covers_one_sided_users(spark):
    """Users present on only ONE cogroup side still emit a row with
    the other side zeroed, and a zero-click user has a NULL ratio."""
    from go_mailio_diskusage_handler_spark.functions import udfs

    events = spark.createDataFrame(
        [
            (1, 10, "click", 2.0),
            (2, 10, "purchase", 6.0),
            (3, 20, "click", 4.0),   # clicks only
            (4, 30, "purchase", 8.0),  # purchases only -> NULL ratio
            (5, None, "click", 1.0),  # null user dropped
        ],
        "event_id long, user_id long, event_type string, value double",
    )
    rows = {r.user_id: r for r in
            udfs.user_value_stats_cogrouped_arrow(events).collect()}
    assert set(rows) == {10, 20, 30}
    assert (rows[10].n_clicks, rows[10].n_purchases,
            rows[10].conv_ratio) == (1, 1, 3.0)
    assert (rows[20].n_clicks, rows[20].purchase_value,
            rows[20].conv_ratio) == (1, 0.0, 0.0)
    assert rows[30].n_clicks == 0 and rows[30].conv_ratio is None


# ---------------------------------------------------------------------------
# Round-10 addition: the semi join and the full outer join's click
# side
# ---------------------------------------------------------------------------


def test_oracle_parity_attribution_semi(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "events_attribution_semi", registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_semi_join_is_deduplicated_inner_left_side(spark):
    """leftSemi == DISTINCT purchase side of the inner join — each
    attributed purchase exactly once, never-attributed ones absent."""
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming import windows

    events = load_table(spark, f"{SF_CORRECT}/../sf0.001", "events")
    semi = [r.purchase_id for r in
            windows.attributed_purchases_semi(events).collect()]
    inner = {r.purchase_id for r in
             windows.attributed_purchases(events).collect()}
    assert sorted(semi) == sorted(set(semi))  # no fan-out duplicates
    assert set(semi) == inner


def test_right_outer_is_full_outer_minus_organic_purchases(spark):
    """The full outer join's click side: clicks that never converted
    appear null-padded, and ``user_id`` is coalesced across the sides
    so no row lacks its key."""
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from go_mailio_diskusage_handler_spark.streaming import windows

    events = load_table(spark, f"{SF_CORRECT}/../sf0.001", "events")
    full = {(r.purchase_id, r.click_id, r.user_id) for r in
            windows.attributed_purchases_full_outer(events).collect()}
    # unconverted clicks present
    assert any(p is None and c is not None for p, c, _ in full)
    assert all(u is not None for _, _, u in full)


# ---------------------------------------------------------------------------
# Round-10 addition: SQL UDFs (scalar + table function) and listagg
# ---------------------------------------------------------------------------


def test_oracle_parity_sql_function_bands(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_function_bands", registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_oracle_parity_sql_listagg_nations(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_listagg_nations", registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_sql_function_inlines_to_relational_plan(spark):
    """CREATE FUNCTION bodies must inline at plan time: the physical
    plan of the SQL-UDF query contains no Python/eval nodes — just the
    scan + filter + aggregate the hand-written form would produce,
    with the table function's predicate pushed to the parquet scan."""
    from go_mailio_diskusage_handler_spark import plans, registry

    df = registry.QUERIES["sql_function_bands"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,50000.0)" in plan, plan


# ---------------------------------------------------------------------------
# Round-10 addition: WebDataset-style media shard planning
# ---------------------------------------------------------------------------


def test_oracle_parity_media_shard_plan(spark, ddb):
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "media_shard_plan", registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_shard_plan_is_contiguous_and_budgeted(spark):
    """Shards per modality tile the doc_id order contiguously (next
    shard starts after the previous ends), every shard except possibly
    the last holds >= the byte budget's worth once its last asset
    lands, and no shard but the last is 'underfull by more than one
    asset' — the start-offset relaxation's contract."""
    from go_mailio_diskusage_handler_spark.operators import multimodal
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    budget = 16_384
    rows = multimodal.shard_plan(
        load_table(spark, SF_CORRECT, "documents"), budget
    ).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.media_type, []).append(r)
    assert set(by_type) == {"image", "audio", "video"}
    for mt, shards in by_type.items():
        shards.sort(key=lambda r: r.shard_id)
        assert [s.shard_id for s in shards] == list(range(len(shards)))
        assert len(shards) > 1, "fixture should need multiple shards"
        for a, b in zip(shards, shards[1:]):
            assert a.last_doc_id < b.first_doc_id  # contiguous tiling
        # start-offset rule: every shard boundary crosses the budget,
        # so total_bytes >= budget - (last asset may overhang) for all
        # but the final shard
        for s in shards[:-1]:
            assert s.total_bytes >= budget - 3000  # fixture max asset ~3KB
