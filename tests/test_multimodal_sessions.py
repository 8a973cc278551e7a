"""[EXT] multimodal plumbing + sessionization + sliding windows:
DuckDB oracle parity and plan shape (no shuffle in the decode path)."""

from __future__ import annotations

import pytest

from go_mailio_diskusage_handler_spark import plans, registry
from go_mailio_diskusage_handler_spark.operators import multimodal
from go_mailio_diskusage_handler_spark.sources.tables import load_table

from conftest import SF_CORRECT, compare_with_oracle

ORACLE_CHECKED = [
    "media_metadata",
    "media_decode_features",
    "media_frame_sample",
    "media_resize",
    "media_audio_chunks",
    "events_sessionize",
    "events_sliding_window",
    "events_window_users",
    "events_funnel",
    "events_transitions",
    "events_window_topk",
    "events_value_deciles",
    "events_bounce_rate",
    "events_gap_stats",
    "media_payload_dedup",
    "events_dau_wau",
    "events_funnel_window",
    "events_first_touch",
    "events_retention_cohorts",
    "events_anomaly_zscore",
    "events_user_growth",
    "events_concentration",
    "events_markov_stationary",
    "events_seasonality",
    "events_ab_test",
    "events_user_features",
    "events_user_entropy",
    "events_retention_curve",
    "events_funnel_rates",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


def test_decode_path_has_no_shuffle(spark):
    """mapInPandas decode is embarrassingly parallel — the physical plan
    must contain zero exchanges (payloads never cross the network)."""
    df = multimodal.decode_features(load_table(spark, SF_CORRECT, "documents"))
    assert plans.shuffle_count(df) == 0, plans.executed_plan(df)


def test_funnel_order_and_strictness(spark):
    """Hand-built sequences pin the ordered-funnel semantics the dense
    fixture can't discriminate (every fixture user completes all 3):

    * u1 completes in order; * u2 clicked BEFORE viewing — the early
    click must not count, a later one does; * u3 purchase-first then
    view — purchase never counts (no click step at all); * u4's click
    at the SAME microsecond as the view must not count (strictly
    after); * u5 only views.  Also: one shuffle, no join in the plan
    (the relational formulation would join three times)."""
    from datetime import datetime

    from go_mailio_diskusage_handler_spark import plans
    from go_mailio_diskusage_handler_spark.operators import sessions

    def ev(uid, sec, typ):
        return (uid, datetime(2024, 1, 1, 0, 0, sec), typ)

    rows = [
        ev(1, 1, "view"), ev(1, 2, "click"), ev(1, 3, "purchase"),
        ev(2, 1, "click"), ev(2, 2, "view"), ev(2, 3, "click"), ev(2, 4, "purchase"),
        ev(3, 1, "purchase"), ev(3, 2, "view"), ev(3, 3, "purchase"),
        ev(4, 1, "view"), ev(4, 1, "click"), ev(4, 2, "purchase"),
        ev(5, 1, "view"), ev(5, 2, "error"),
    ]
    events = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {r.user_id: r for r in sessions.funnel(events).collect()}
    base = int(datetime(2024, 1, 1).timestamp()) * 1_000_000

    def us(sec):
        return base + sec * 1_000_000

    assert (got[1].step_1_us, got[1].step_2_us, got[1].step_3_us) == (
        us(1), us(2), us(3),
    )
    assert got[1].steps_completed == 3
    # u2: early click ignored, later click counts.
    assert (got[2].step_2_us, got[2].steps_completed) == (us(3), 3)
    # u3: purchase without a click never counts.
    assert (got[3].step_2_us, got[3].step_3_us, got[3].steps_completed) == (
        None, None, 1,
    )
    # u4: same-microsecond click is not strictly after the view.
    assert (got[4].step_2_us, got[4].steps_completed) == (None, 1)
    assert got[5].steps_completed == 1
    fresh = sessions.funnel(events)
    assert plans.shuffle_count(fresh) == 1
    assert "Join" not in plans.executed_plan(fresh)


def test_first_touch_is_single_partial_aggregation(spark):
    """first_touch must be ONE hash aggregation (partial before the
    exchange), not a window: a window would shuffle + sort EVERY
    event; the agg shuffles one running winner per (task x key)."""
    from go_mailio_diskusage_handler_spark.operators import sessions

    df = sessions.first_touch(load_table(spark, SF_CORRECT, "events"))
    plan = plans.executed_plan(df)
    assert "Window" not in plan, plan
    assert plans.shuffle_count(df) == 1, plan


def test_cohort_retention_counts_are_exact_distinct(spark):
    """Each (user, day) pair maps to one (cohort, offset) cell, so the
    plain COUNT(*) equals a COUNT(DISTINCT user) — pin that identity,
    plus the invariant every cohort has an offset-0 row equal to its
    size."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import sessions

    events = load_table(spark, SF_CORRECT, "events")
    m = sessions.cohort_retention(events)
    day0 = {
        r.cohort_day: r.active_users
        for r in m.filter(F.col("day_offset") == 0).collect()
    }
    # offset-0 row exists for every cohort and equals the cohort size
    ud = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    sizes = {
        r.cohort_day: r.n
        for r in ud.groupBy("user_id")
        .agg(F.min("d").alias("cd"))
        .groupBy(F.date_format("cd", "yyyy-MM-dd").alias("cohort_day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert day0 == sizes
    # retention never exceeds cohort size
    bad = [
        r
        for r in m.collect()
        if r.active_users > sizes[r.cohort_day]
    ]
    assert not bad, bad[:3]


def test_dau_wau_invariants(spark):
    """WAU dominates DAU (a day's actives are a subset of the trailing
    week's), stickiness ≤ 1, confusion-free day accounting (every day
    with events reports), and the stream's FIRST day has wau == dau
    (no earlier days in its window)."""
    from conftest import SF_CORRECT
    from go_mailio_diskusage_handler_spark.operators import sessions as S
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    rows = sorted(
        S.dau_wau(load_table(spark, SF_CORRECT, "events")).collect(),
        key=lambda r: r.day,
    )
    assert rows
    for r in rows:
        assert r.wau >= r.dau and 0 < r.stickiness <= 1.0, r
    assert rows[0].wau == rows[0].dau


def test_funnel_window_bounds_conversions(spark):
    """Hand fixture: a click 25h after the view must NOT count under a
    24h window (and neither may the purchase that follows it), while
    the same sequence inside the window completes; with a huge window
    the bounded funnel equals the unbounded one on the fixture."""
    from go_mailio_diskusage_handler_spark.operators import sessions as S
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from conftest import SF_CORRECT

    H = 3_600_000_000  # 1h in us
    rows = [
        # user 1: view → click(+2h) → purchase(+3h): completes.
        (1, 1, 10 * H, "view"), (2, 1, 12 * H, "click"),
        (3, 1, 15 * H, "purchase"),
        # user 2: click lands 25h after view → funnel stalls at 1.
        (4, 2, 10 * H, "view"), (5, 2, 35 * H, "click"),
        (6, 2, 36 * H, "purchase"),
        # user 3: click in-window, purchase 30h after click → 2.
        (7, 3, 10 * H, "view"), (8, 3, 11 * H, "click"),
        (9, 3, 41 * H, "purchase"),
    ]
    ev = spark.createDataFrame(
        [(i, u, t, e) for i, u, t, e in rows],
        "event_id long, user_id long, us long, event_type string",
    ).selectExpr("event_id", "user_id",
                 "timestamp_micros(us) AS ts", "event_type")
    got = {r.user_id: r.steps_completed
           for r in S.funnel_within(ev, within_hours=24).collect()}
    assert got == {1: 3, 2: 1, 3: 2}
    # Huge window ≡ unbounded funnel on the real fixture (the bounded
    # variant uses -1 sentinels where the unbounded one uses NULL —
    # normalize before comparing).
    events = load_table(spark, SF_CORRECT, "events")
    wide = {tuple(None if v == -1 else v for v in r) for r in
            S.funnel_within(events, within_hours=10**6).collect()}
    plain = {tuple(r) for r in S.funnel(events).collect()}
    assert wide == plain


def test_anomaly_zscore_warmup_unscored(spark):
    """Warm-up days (fewer than min_prior prior rows) must never read
    as anomalous, and every scoreable row's flag must agree with its
    exported z-score."""
    from go_mailio_diskusage_handler_spark import registry

    rows = registry.QUERIES["events_anomaly_zscore"](
        spark, SF_CORRECT
    ).collect()
    assert any(r.is_anomaly for r in rows)
    for r in rows:
        if not r.scoreable:
            assert not r.is_anomaly and r.zscore == 0.0
        elif abs(abs(r.zscore) - 2.0) > 1e-3:
            # away from the threshold boundary, where the exported
            # 4-dp rounding cannot flip the comparison
            assert r.is_anomaly == (abs(r.zscore) >= 2.0)


def test_markov_stationary_is_probability_vector(spark):
    """After 3 power steps the vector must still (approximately) sum
    to 1 (per-step rounding bounds drift to |types|*1e-6*steps) and
    every component must be non-negative."""
    from go_mailio_diskusage_handler_spark import registry

    rows = registry.QUERIES["events_markov_stationary"](
        spark, SF_CORRECT
    ).collect()
    assert rows and all(r.pi >= 0 for r in rows)
    assert abs(sum(r.pi for r in rows) - 1.0) < 1e-4


def test_ab_test_degenerate_pool_is_guarded(spark):
    """An experiment where every user converts (or none does) has
    zero variance — the z-test must come back testable=false with
    the 0.0 sentinel instead of raising DIVIDE_BY_ZERO under ANSI."""
    from datetime import datetime

    from go_mailio_diskusage_handler_spark.operators import sessions

    rows = [
        (i, datetime(2024, 1, 1, 0, 0, i % 60), i, "purchase")
        for i in range(1, 9)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    r = sessions.ab_conversion_test(events).collect()[0]
    assert not r.testable and r.z_stat == 0.0 and not r.significant


def test_funnel_step_rates_is_single_pass(spark):
    """The round-5 verdict's scale finding: funnel_step_rates used to
    run a separate f.count() ACTION at build time (a second full pass
    over the events fold).  Pin the fix two ways: (a) merely BUILDING
    the frame launches zero Spark jobs (the frame is fully lazy), and
    (b) the per-user funnel subplan appears once in the executed plan,
    not twice."""
    from go_mailio_diskusage_handler_spark.operators import sessions

    events = load_table(spark, SF_CORRECT, "events")
    sc = spark.sparkContext
    sc.setJobGroup("fsr-build", "funnel_step_rates build", False)
    try:
        df = sessions.funnel_step_rates(events)
    finally:
        sc.setJobGroup(None, None, False)
    assert list(sc.statusTracker().getJobIdsForGroup("fsr-build")) == []
    plan = plans.executed_plan(df)
    # the 3-condition funnel fold aggregates once; a double-pass plan
    # would contain the min-epoch step columns twice.
    assert plan.count("step_1_us") <= 2, plan  # agg partial+final, one subplan
    rows = {r.step: r for r in df.collect()}
    assert rows["view"].rate_defined and rows["purchase"].overall_rate <= 1.0
