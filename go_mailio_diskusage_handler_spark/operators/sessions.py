"""[EXT] Sessionization: gap-based event sessions per user.

Batch form: lag + running-sum session assignment (two partitioned
windows over the same (user_id, ts) sort — Spark executes them in one
shuffle + one sort).

Timestamps are exported as epoch MICROSECONDS (exact int64 in both
engines — no float truncation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

SESSION_GAP_MINUTES = 30


def session_window_stats(events: DataFrame) -> DataFrame:
    """Native ``F.session_window`` sessionization — Spark's built-in
    gap-based session operator (works identically in batch and
    Structured Streaming).

    Merge rule differs subtly from :func:`sessionize`: the built-in
    closes a session when the next event is ``>= gap`` after the last
    one (window end is exclusive), while the lag-based form here uses
    ``> gap``.  The oracle SQL mirrors the built-in's ``>=`` rule.
    ``session_end_us`` is last_event + gap by definition.
    """
    return (
        events.groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


def asof_last_purchase(events: DataFrame) -> DataFrame:
    """AS-OF join as a composition (SURVEY §2.1 notes Spark lacks a
    native as-of): for every ``click`` event, the value of the same
    user's most recent ``purchase`` event at-or-before it.

    Instead of a range join (which Spark would execute as a broadcast
    nested loop at O(n·m) per user), both event sets ride ONE
    partitioned window: sort each user's merged timeline once, carry
    the last seen reference value forward (``last_value`` with
    ``ignoreNulls``), keep probe rows.  One shuffle on user_id, one
    sort — the standard scalable as-of shape.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    probe_type, ref_type = "click", "purchase"
    ref_val = F.when(F.col("event_type") == ref_type, F.col("value"))
    ref_ts = F.when(F.col("event_type") == ref_type, F.unix_micros("ts"))
    carried = events.filter(
        F.col("event_type").isin(probe_type, ref_type)
    ).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
        F.last(ref_val, ignorenulls=True).over(w).alias("asof_value"),
        F.last(ref_ts, ignorenulls=True).over(w).alias("asof_ts_us"),
    )
    # Unmatched probes (no reference event yet) are dropped rather than
    # emitted with NULLs: inner-as-of semantics, and it keeps the
    # cross-engine comparison free of NULL-vs-NaN representation drift.
    return (
        carried.filter(F.col("event_type") == probe_type)
        .filter(F.col("asof_value").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.round("asof_value", 4).alias("asof_value"),
            "asof_ts_us",
        )
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Events → sessions: (user_id, session_start_us, n_events,
    duration_us).  A new session starts when the gap to the previous
    event of the same user exceeds ``SESSION_GAP_MINUTES``.
    """
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros("ts")
    with_flag = events.select(
        "user_id",
        "event_id",
        "ts",
        us.alias("us"),
        F.when(
            F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > gap_us),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_session"),
    )
    with_id = with_flag.select(
        "user_id", "us", F.sum("new_session").over(wsum).alias("session_seq")
    )
    return with_id.groupBy("user_id", "session_seq").agg(
        F.min("us").alias("session_start_us"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("duration_us"),
    ).select("user_id", "session_start_us", "n_events", "duration_us")


FUNNEL_STEPS = ("view", "click", "purchase")


def funnel(events: DataFrame) -> DataFrame:
    """Ordered-funnel analysis: for every user, the first time each
    step of ``FUNNEL_STEPS`` was completed IN ORDER (each step strictly after
    the previous step's completion) — the product-analytics
    counterpart of sessionization, and the same shape a training
    pipeline uses for ordered event-sequence mining.

    One shuffle, bounded state: events are packed per user into a
    sorted (time, type) array and folded ONCE with ``F.aggregate`` —
    the accumulator carries one timestamp per step, so the fold's
    state is O(|steps|) no matter how many events a user has.  The
    per-user array is the collect_list bound every sessionization
    carries (events-per-user, not corpus size); a deployment with
    pathological per-user volumes pre-aggregates to first-event-per
    -(user, type, coarse window) before folding.  Sequential semantics
    need sequential state — three chained min-aggregate+join stages
    (the relational alternative, and how the DuckDB oracle states it)
    would shuffle three times; the fold shuffles once.

    Output: (user_id, step_1_us..step_N_us epoch-micros or NULL,
    steps_completed).
    """
    us = F.unix_micros(F.col("ts"))
    # Anonymous events can't form a funnel; dropping them up front also
    # keeps NULL-group semantics identical across engines.
    packed = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("event_type").isin(*FUNNEL_STEPS),
                        F.struct(us.alias("t"), F.col("event_type").alias("e")),
                    )
                )
            ).alias("evs")
        )
    )
    n = len(FUNNEL_STEPS)
    acc0 = F.struct(
        *[F.lit(None).cast("bigint").alias(f"s{i}") for i in range(n)]
    )

    def fold(acc, s):
        fields = []
        for i, step in enumerate(FUNNEL_STEPS):
            prev_done = F.lit(True) if i == 0 else acc[f"s{i-1}"].isNotNull()
            prev_t = F.lit(-1).cast("bigint") if i == 0 else acc[f"s{i-1}"]
            fields.append(
                F.coalesce(
                    acc[f"s{i}"],
                    F.when(
                        (s["e"] == step) & prev_done & (s["t"] > prev_t), s["t"]
                    ),
                ).alias(f"s{i}")
            )
        return F.struct(*fields)

    folded = packed.select(
        "user_id", F.aggregate(F.col("evs"), acc0, fold).alias("f")
    )
    step_cols = [
        F.col("f")[f"s{i}"].alias(f"step_{i + 1}_us") for i in range(n)
    ]
    completed = sum(
        (F.col("f")[f"s{i}"].isNotNull().cast("int") for i in range(n)),
        F.lit(0),
    )
    return folded.select("user_id", *step_cols, completed.alias("steps_completed"))


def first_touch(events: DataFrame) -> DataFrame:
    """Event-stream dedup: the earliest event per (user, event_type)
    key — "first touch" attribution.

    Deterministic winner: min (ts, event_id) lexicographically, via a
    single min_by-shaped aggregation — one shuffle on the dedup key,
    partial min per scan task first, so the exchange carries one row
    per (task x key), not per event.  A row_number window would need
    the same shuffle plus a per-partition sort of EVERY event; the
    aggregation form keeps only the running winner per key.
    """
    us = F.unix_micros("ts")
    # Pack (ts, event_id) into one orderable struct so min() picks the
    # lexicographic winner atomically (no separate-min inconsistency).
    winner = F.min(F.struct(us.alias("us"), F.col("event_id"))).alias("w")
    return (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(winner)
        .select(
            "user_id",
            "event_type",
            F.col("w.us").alias("first_ts_us"),
            F.col("w.event_id").alias("first_event_id"),
        )
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Daily cohort retention matrix: users grouped by their first
    active day; for each (cohort_day, day_offset) the count of cohort
    members active that day — the standard product-analytics rollup,
    and the shape a training pipeline uses for user-activity windows.

    Scale: everything downstream of the first projection operates on
    DISTINCT (user, day) pairs — bounded by active-user-days, not by
    event count.  Because each (user, day) pair maps to exactly one
    (cohort_day, day_offset) cell, the final count is a plain COUNT(*)
    — no expensive distinct aggregation after the first dedup.  The
    first-day table joins back on user_id (equi-join on the same key
    the dedup shuffled on); no broadcast is assumed, so the plan holds
    at 10^9 users.
    """
    user_days = (
        events.filter(F.col("user_id").isNotNull())
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .distinct()
    )
    firsts = user_days.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        user_days.join(firsts, "user_id")
        .groupBy(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("cohort_d")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: for each (event_type → next event_type) pair, the
    transition count and conditional probability — the path-analysis
    primitive behind funnel discovery and anomaly baselining
    (which step usually follows which).

    Plan shape at 100 TB: ONE shuffle on user_id for the lead()
    window (the per-user timeline sort sessionization already pays —
    at scale the two share the exchange), then an aggregation whose
    key domain is |event_types|² — bounded, so the final shuffle is a
    few rows per task regardless of event volume.  The conditional
    probability normalizes over a window keyed on the from-state:
    |event_types| partitions of |event_types| rows each, nowhere near
    the fact table.  Ordering ties break on event_id (unique), so the
    timeline — and therefore every count — is deterministic.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        events.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
    )
    trans = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    tot_w = Window.partitionBy("event_type")
    return trans.select(
        "event_type",
        "next_type",
        "n_trans",
        F.round(
            F.col("n_trans") / F.sum("n_trans").over(tot_w), 4
        ).alias("p_next"),
    )


def bounce_rate_daily(events: DataFrame) -> DataFrame:
    """Daily bounce rate: share of sessions with exactly one event,
    per session-start day — the engagement KPI sessionization exists
    to feed.  Pure composition: :func:`sessionize` output (already
    one row per session) aggregates by day; no new shuffle shape
    beyond the sessionizer's own.
    """
    s = sessionize(events)
    day = F.date_format(
        F.to_date(F.timestamp_micros(F.col("session_start_us"))), "yyyy-MM-dd"
    )
    return (
        s.groupBy(day.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias(
                "n_bounces"
            ),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.round(F.col("n_bounces") / F.col("n_sessions"), 4).alias(
                "bounce_rate"
            ),
        )
    )


def inter_event_gap_stats(events: DataFrame) -> DataFrame:
    """Per event type: exact median and p95 of the inter-arrival time
    between a user's consecutive events of that type — the cadence
    baseline behind rate-limit tuning and bot detection.

    One lag() window per (user, type) timeline (the user-keyed
    exchange sessionization already pays; event_id breaks ts ties),
    then a single percentile-array aggregate per type — the window
    runs on the fact table but partitioned by user, and the
    percentile output is |event_types|-bounded.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gaps = (
        events.filter(F.col("user_id").isNotNull())
        .select(
            "event_type",
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            ).alias("gap_us"),
        )
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.expr("percentile(gap_us, array(0.5, 0.95))").alias("p"),
        )
        .select(
            "event_type",
            "n_gaps",
            F.round(F.col("p")[0] / 1e6, 2).alias("median_gap_sec"),
            F.round(F.col("p")[1] / 1e6, 2).alias("p95_gap_sec"),
        )
    )


def dau_wau(events: DataFrame) -> DataFrame:
    """Exact DAU and trailing-7-day WAU per day, plus the stickiness
    ratio (DAU/WAU) — the engagement report, computed EXACTLY (no
    sketch) at a cost that survives scale: the only corpus-sized
    shuffle is the distinct (day, user) projection; the 7-day window
    then joins that bounded table against a calendar spine (≤ 7
    copies of per-day actives — calendar-bounded, not event-bounded).
    """
    du = (
        events.filter(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    spine = dau.select("day")
    win = spine.alias("s").join(
        du.alias("d"),
        (F.col("d.day") <= F.col("s.day"))
        & (F.col("d.day") >= F.date_sub(F.col("s.day"), 6)),
    )
    wau = (
        win.select(F.col("s.day").alias("day"), "user_id")
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
        )
    )


def funnel_within(events: DataFrame, within_hours: int = 24) -> DataFrame:
    """Time-bound ordered funnel: like :func:`funnel`, but each step
    must land within ``within_hours`` of the PREVIOUS step's
    completion — the conversion-window semantics real funnels use (a
    purchase a month after the click is not attributable).  Anchor
    semantics match the unbounded fold exactly: step 1 is the user's
    first step-1 event, no re-anchoring, each later step the first
    qualifying (in-order AND in-window) event — so this equals the
    unbounded funnel whenever every gap fits the window.  Same
    single-shuffle O(|steps|)-state fold.

    Unreached steps emit a -1 SENTINEL, not NULL: a nullable BIGINT
    round-trips as None-vs-NaN inconsistently across engine client
    layers, and unlike the unbounded funnel this variant routinely
    has unreached steps.
    """
    bound = within_hours * 3600 * 1_000_000
    us = F.unix_micros(F.col("ts"))
    packed = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("event_type").isin(*FUNNEL_STEPS),
                        F.struct(us.alias("t"), F.col("event_type").alias("e")),
                    )
                )
            ).alias("evs")
        )
    )
    n = len(FUNNEL_STEPS)
    acc0 = F.struct(
        *[F.lit(None).cast("bigint").alias(f"s{i}") for i in range(n)]
    )

    def fold(acc, s):
        fields = []
        for i, step in enumerate(FUNNEL_STEPS):
            if i == 0:
                cond = s["e"] == step
            else:
                prev = acc[f"s{i-1}"]
                cond = (
                    (s["e"] == step)
                    & prev.isNotNull()
                    & (s["t"] > prev)
                    & (s["t"] <= prev + F.lit(bound))
                )
            fields.append(
                F.coalesce(acc[f"s{i}"], F.when(cond, s["t"])).alias(f"s{i}")
            )
        return F.struct(*fields)

    folded = packed.select(
        "user_id", F.aggregate(F.col("evs"), acc0, fold).alias("f")
    )
    step_cols = [
        F.coalesce(F.col("f")[f"s{i}"], F.lit(-1)).alias(f"step_{i + 1}_us")
        for i in range(n)
    ]
    completed = sum(
        (F.col("f")[f"s{i}"].isNotNull().cast("int") for i in range(n)),
        F.lit(0),
    )
    return folded.select(
        "user_id", *step_cols, completed.alias("steps_completed")
    )


ANOMALY_TRAILING = 7  # prior rows in the baseline
ANOMALY_MIN_PRIOR = 3  # prior rows before a day is scoreable
ANOMALY_Z_THRESH = 2.0


def daily_anomaly_zscore(events: DataFrame) -> DataFrame:
    """Daily event-volume anomaly detection: per (day, event_type)
    counts scored against a trailing-``ANOMALY_TRAILING``-row baseline
    (mean + sample stddev of the PRIOR rows only — the current day
    never contaminates its own baseline), flagging |z| >=
    ``ANOMALY_Z_THRESH``.

    Scale shape: the corpus-sized work is ONE hash aggregation down
    to (days x types) rows; the window then runs over that
    calendar-bounded table (thousands of rows at 100 TB, not
    billions), partitioned by event_type so there is no
    SinglePartition window.  Rows-based frame assumes a dense daily
    series per type (true for any type that fires daily; gaps would
    stretch the baseline horizon, cf. relational.daily_revenue_dense
    for explicit densification).

    Warm-up semantics: days with fewer than ``ANOMALY_MIN_PRIOR`` prior rows
    or zero variance are not scoreable — ``scoreable = false``,
    ``is_anomaly = false``, and the double columns carry SENTINELS
    (mean -1, z 0) rather than NULL: a nullable DOUBLE round-trips as
    None-vs-NaN inconsistently across engine client layers (same
    rationale as :func:`funnel_within`'s -1 step sentinel).
    """
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return score_daily_counts(daily)


def score_daily_counts(daily: DataFrame) -> DataFrame:
    """Scoring half of :func:`daily_anomaly_zscore`: expects a (day
    DATE, event_type, n_events) table.  The daily count is additive;
    this trailing window is not, so it runs over the days×types-bounded
    count table rather than the events."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-ANOMALY_TRAILING, -1)
    )
    scored = daily.select(
        "day",
        "event_type",
        "n_events",
        F.count(F.lit(1)).over(w).alias("n_prior"),
        F.avg("n_events").over(w).alias("mean_prior"),
        F.stddev_samp("n_events").over(w).alias("sd_prior"),
    )
    ok = (F.col("n_prior") >= ANOMALY_MIN_PRIOR) & (F.col("sd_prior") > 0)
    z = F.when(
        ok, (F.col("n_events") - F.col("mean_prior")) / F.col("sd_prior")
    )
    return scored.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "n_prior",
        F.coalesce(F.round("mean_prior", 4), F.lit(-1.0)).alias("mean_prior"),
        F.coalesce(ok, F.lit(False)).alias("scoreable"),
        F.coalesce(F.round(z, 4), F.lit(0.0)).alias("zscore"),
        F.coalesce(F.abs(z) >= ANOMALY_Z_THRESH, F.lit(False)).alias("is_anomaly"),
    )


def user_growth(events: DataFrame) -> DataFrame:
    """Cumulative user acquisition: each day's NEW users (first-ever
    activity) and the running total of distinct users to date —
    the growth curve, computed without any day-over-day distinct
    re-count: one user-keyed min-day aggregation (the only
    corpus-sized shuffle), then a running sum over the
    calendar-bounded per-day table.  The unpartitioned window is
    |days|-rows small by construction, never corpus-sized.
    """
    first = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("day"))
    )
    daily = first.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


N_DECILES = 10


def event_concentration(events: DataFrame) -> DataFrame:
    """Activity concentration (Pareto) report: bucket users into
    activity deciles and report each decile's share of total events —
    the whale-detection / abuse-skew health metric.  One user-keyed
    count (corpus-sized shuffle #1), an NTILE over the user-bounded
    table, then a deciles-bounded aggregate; total via a 1-row
    broadcast scalar, not a second pass.
    """
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return concentration_report(per_user)


def concentration_report(per_user: DataFrame) -> DataFrame:
    """Scoring half of :func:`event_concentration`: expects a
    (user_id, n_events) table.  The per-user count is additive; the
    NTILE ranking is not, so it runs over the user-bounded count table
    rather than the events."""
    w = Window.orderBy(F.desc("n_events"), F.asc("user_id"))
    bucketed = per_user.select(
        "n_events", F.ntile(N_DECILES).over(w).alias("decile")
    )
    agg = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("n_events"),
    )
    total = agg.agg(F.sum("n_events").alias("t")).select("t")
    return (
        agg.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            "n_events",
            F.round(F.col("n_events") / F.col("t"), 4).alias("event_share"),
        )
    )


MARKOV_ITERS = 3


def markov_stationary(events: DataFrame) -> DataFrame:
    """Approximate stationary distribution of the event-type Markov
    chain: ``MARKOV_ITERS`` power-iteration steps (π ← πP) from the uniform
    start over :func:`event_transitions`' matrix — "where does a user
    journey settle", the chain-level summary next to the edge-level
    transition matrix.

    Iterative linear algebra as DataFrame ops, safely: the matrix and
    the π vector are |event_types|-bounded, so each step is a
    broadcast-sized join + aggregate — the corpus is touched exactly
    once (the lead() window inside the transition counts); every
    subsequent stage is on bounded frames, and the fixed iteration
    count keeps the plan static (no driver-side convergence loop to
    re-plan).  π is rounded to 6 digits per step in both engines so
    cross-engine fp drift cannot compound across iterations.
    """
    trans = event_transitions(events)
    tot_w = Window.partitionBy("event_type")
    p = trans.select(
        "event_type",
        "next_type",
        (F.col("n_trans") / F.sum("n_trans").over(tot_w)).alias("p"),
    )
    types = (
        p.select(F.col("event_type").alias("t"))
        .union(p.select(F.col("next_type").alias("t")))
        .distinct()
    )
    # The uniform start counts the types inside the plan (a global
    # window over the |event_types|-bounded frame), so building the
    # frame runs no job; 1.0 / count is the same IEEE division.
    pi = types.select(
        "t", (F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy())).alias("pv")
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(p, pi["t"] == p["event_type"])
            .groupBy(F.col("next_type").alias("t"))
            .agg(F.round(F.sum(F.col("pv") * F.col("p")), 6).alias("pv"))
        )
    return pi.select(F.col("t").alias("event_type"), F.col("pv").alias("pi"))


def hourly_seasonality(events: DataFrame) -> DataFrame:
    """Hour-of-day seasonality per event type: the 24-bucket activity
    profile reduced to its report row — peak hour, peak share, and a
    chi-square uniformity statistic (df = 23; the 0.05 critical value
    35.17 drives ``is_uniform``) — the load-shaping / bot-detection
    companion to the anomaly z-scores (which watch days; this watches
    the clock).

    Two bounded aggregations: corpus → (type × 24) counts (map-side
    combined, the only corpus-sized pass), then an argmax-struct +
    chi-square fold per type.  Chi-square is exact integer arithmetic
    until the final division, rounded at 4 in both engines.
    """
    hourly = events.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_type = hourly.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.max(F.struct(F.col("n"), (-F.col("hr")).alias("neg_hr"))).alias(
            "peak"
        ),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        F.count(F.lit(1)).alias("hours_seen"),
    )
    # chi2 vs uniform over 24 buckets (E = N/24, unseen hours count as
    # observed 0): sum((n_h - E)^2)/E algebraically folds to
    # 24*sum_sq/N - N — one division, identical fp path in the oracle.
    chi2 = (
        F.lit(24.0) * F.col("sum_sq") / F.col("n_events")
        - F.col("n_events")
    )
    return per_type.select(
        "event_type",
        "n_events",
        (-F.col("peak.neg_hr")).cast("int").alias("peak_hour"),
        F.round(F.col("peak.n") / F.col("n_events"), 4).alias("peak_share"),
        F.round(chi2, 4).alias("chi2"),
        (chi2 < F.lit(35.17)).alias("is_uniform"),
    )


_USER_BUCKET = " + ".join(
    f"(instr('0123456789abcdef', substring(md5(cast(user_id as string)),"
    f" {k + 1}, 1)) - 1) * {16 ** (3 - k)}"
    for k in range(4)
)


def ab_conversion_test(events: DataFrame) -> DataFrame:
    """Deterministic A/B experiment readout: users split 50/50 by
    md5-bucket parity (the same keyed-hash assignment the curation
    splits use — stable across reruns and backfills, no RNG state),
    conversion = "is the user an above-median purchaser"
    (median over per-user counts — scale-free, so the rate stays
    interior at any sf; a naive did-they-ever definition saturates at
    1.0 on dense data and zeroes the test's variance), and the
    two-proportion z-test on the pooled rate decides significance at
    |z| > 1.96.  On the fixture the split is random vs behavior, so
    the expected readout is NOT-significant — the query is the
    experimentation-platform primitive, exercised end to end.

    Scale shape: one user-keyed aggregation (the corpus-sized
    shuffle), a 1-row broadcast median, then the arm table folds to
    the 1-row report; the z statistic is one arithmetic expression
    over exact counts, identical text in both engines, rounded at 3.
    Degenerate pools (rate 0 or 1, or an empty arm) emit
    ``testable = false`` with a 0.0 z sentinel instead of dividing
    by zero (ANSI mode raises); the per-arm rates and the lift carry
    the same guard (an empty arm emits a 0.0 rate, never the
    NULL/NaN double a raw ``conv/0`` would produce), so every double
    column is non-null under any input.
    """
    per_user = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("int")).alias(
                "n_conv_events"
            )
        )
    )
    med = per_user.agg(
        F.expr("percentile(n_conv_events, 0.5)").alias("med")
    )
    assigned = per_user.crossJoin(F.broadcast(med)).select(
        (F.expr(_USER_BUCKET) % 2).alias("arm"),
        (F.col("n_conv_events") > F.col("med")).cast("int").alias("converted"),
    )
    arms = assigned.groupBy().agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p_a = F.col("conv_a") / F.col("n_a")
    p_b = F.col("conv_b") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")) / (F.col("n_a") + F.col("n_b"))
    testable = (
        (F.col("n_a") > 0)
        & (F.col("n_b") > 0)
        & (pool > 0)
        & (pool < 1)
    )
    z = F.when(
        testable,
        (p_a - p_b)
        / F.sqrt(
            pool * (1 - pool) * (1 / F.col("n_a") + 1 / F.col("n_b"))
        ),
    )
    return arms.select(
        "n_a",
        "n_b",
        F.when(F.col("n_a") > 0, F.round(p_a, 4))
        .otherwise(F.lit(0.0))
        .alias("rate_a"),
        F.when(F.col("n_b") > 0, F.round(p_b, 4))
        .otherwise(F.lit(0.0))
        .alias("rate_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(p_a - p_b, 4)
        )
        .otherwise(F.lit(0.0))
        .alias("lift"),
        F.coalesce(testable, F.lit(False)).alias("testable"),
        F.coalesce(F.round(z, 3), F.lit(0.0)).alias("z_stat"),
        F.coalesce(F.abs(z) > 1.96, F.lit(False)).alias("significant"),
    )


def user_day_features(events: DataFrame) -> DataFrame:
    """Feature-store materialization: per (user, active day), the
    point-in-time features a training pipeline joins to labels —
    same-day activity, trailing 7-row activity sums, days since the
    previous active day, and lifetime-to-date counts.  Everything is
    AS-OF the day (current day included for same-day features,
    trailing windows exclude it) so there is no label leakage from
    the future.

    Shape: the corpus collapses to the (user × active-day) grid in
    ONE aggregation (the only corpus-sized shuffle); every window
    then runs on that bounded grid partitioned by user — rows per
    partition = a user's active days, not their events.
    """
    daily = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("day_value"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("n_purchases"),
        )
    )
    order = Window.partitionBy("user_id").orderBy("day")
    trail = order.rowsBetween(-7, -1)
    life = order.rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "day_value",
        "n_purchases",
        F.coalesce(F.sum("n_events").over(trail), F.lit(0)).alias(
            "events_prev7"
        ),
        F.coalesce(
            F.datediff(F.col("day"), F.lag("day").over(order)), F.lit(-1)
        ).alias("days_since_prev"),
        F.sum("n_events").over(life).alias("events_lifetime"),
        F.row_number().over(order).alias("active_day_idx"),
    )


def retention_curve(events: DataFrame) -> DataFrame:
    """The headline retention curve: for each day offset, the
    cohort-size-weighted share of users still active — the one-line
    summary the full cohort matrix (:func:`cohort_retention`) exists
    to feed.  Weighted (pooled) form: sum of active users at offset N
    over the sum of the sizes of cohorts OLD ENOUGH to have an
    offset-N reading — unweighted averaging would let tiny young
    cohorts swing the tail.

    Pure composition over the cohort matrix — one extra
    offsets-bounded aggregation + a cohort-bounded self-join for the
    eligibility denominator; nothing corpus-sized beyond the matrix's
    own build.
    """
    m = cohort_retention(events)
    sizes = m.filter(F.col("day_offset") == 0).select(
        "cohort_day", F.col("active_users").alias("cohort_size")
    )
    max_off = m.groupBy("cohort_day").agg(
        F.max("day_offset").alias("max_offset")
    )
    eligible = sizes.join(max_off, "cohort_day")
    offsets = m.select("day_offset").distinct()
    denom = (
        offsets.join(
            eligible, F.col("max_offset") >= F.col("day_offset"), "inner"
        )
        .groupBy("day_offset")
        .agg(
            F.sum("cohort_size").alias("eligible_users"),
            F.count(F.lit(1)).alias("n_cohorts"),
        )
    )
    act = m.groupBy("day_offset").agg(
        F.sum("active_users").alias("active_users")
    )
    return act.join(denom, "day_offset").select(
        "day_offset",
        "n_cohorts",
        "active_users",
        "eligible_users",
        F.round(F.col("active_users") / F.col("eligible_users"), 4).alias(
            "retention"
        ),
    )


def funnel_step_rates(events: DataFrame) -> DataFrame:
    """The funnel REPORT: per step, how many users reached it, the
    conversion rate from the previous step, and the overall rate from
    the top — the aggregate view the per-user funnel
    (:func:`funnel`) exists to feed.  Pure composition: the per-user
    fold already reduced the corpus to one row per user;
    this rollup is a |steps|-bounded unpivot + aggregate over it.

    Single-pass: the user count folds into the SAME aggregation as
    the per-step reach sums (one Spark job over the funnel shuffle —
    a separate ``count()`` action would re-run the whole events fold
    a second time, 2x the corpus scans at scale).  Zero denominators
    (an intermediate step nobody reached, or an empty corpus) emit a
    0.0 rate with ``rate_defined = false`` instead of the NULL/NaN
    double a raw division would produce.
    """
    f = funnel(events)
    n = len(FUNNEL_STEPS)
    reached = f.agg(
        F.count(F.lit(1)).alias("total"),
        *[
            F.sum((F.col("steps_completed") >= i + 1).cast("long")).alias(
                f"r{i}"
            )
            for i in range(n)
        ],
    )
    pairs = ", ".join(
        f"{i + 1}, '{FUNNEL_STEPS[i]}', coalesce(r{i}, 0L), "
        + ("CAST(NULL AS BIGINT)" if i == 0 else f"coalesce(r{i - 1}, 0L)")
        for i in range(n)
    )
    stacked = reached.selectExpr(
        f"stack({n}, {pairs}) AS (step_idx, step, n_reached, n_prev)",
        "total",
    )
    denom = F.coalesce(F.col("n_prev"), F.col("total"))
    defined = (denom > 0) & (F.col("total") > 0)
    return stacked.select(
        "step_idx",
        "step",
        "n_reached",
        F.when(defined, F.round(F.col("n_reached") / denom, 4))
        .otherwise(F.lit(0.0))
        .alias("step_rate"),
        F.when(
            F.col("total") > 0,
            F.round(F.col("n_reached") / F.col("total"), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("overall_rate"),
        defined.alias("rate_defined"),
    )


def forward_fill_values(events: DataFrame) -> DataFrame:
    """Per-user forward-fill (last-observation-carried-forward) — the
    classic sparse-metric imputation a training pipeline runs before
    feature extraction: 'view' events carry no value observation in
    this corpus (the derivation rule; a real deployment marks
    missingness upstream), and every event is assigned the user's most
    recent observed value at that point in the (ts, event_id) order.

    One window, one shuffle on user_id: ``last(obs, ignorenulls=True)``
    over UNBOUNDED PRECEDING..CURRENT ROW — Spark keeps a single
    last-seen scalar per partition while scanning in order, so state is
    O(1) per user exactly like the as-of join above (:func:`asof_last_
    purchase` fills from a REFERENCE stream; this fills WITHIN the
    series).  No arithmetic touches the carried double, so the filled
    values are bit-identical across engines.

    Events before a user's first observation have no fill; per the
    oracle float convention (nullable DOUBLE renders NaN vs NULL across
    engines), they carry the -1.0 sentinel plus ``has_value = false``.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs = F.when(F.col("event_type") != "view", F.col("value"))
    filled = F.last(obs, ignorenulls=True).over(w)
    return events.select(
        "event_id",
        "user_id",
        F.coalesce(filled, F.lit(-1.0)).alias("filled_value"),
        filled.isNotNull().alias("has_value"),
    )


def interpolate_values(events: DataFrame) -> DataFrame:
    """Per-user LINEAR interpolation between observations — the
    two-sided sibling of :func:`forward_fill_values` (resampling a
    sparse metric onto every event's timestamp before feature
    extraction): each event gets the time-weighted blend of the
    nearest observation at-or-before and at-or-after it in the
    (ts, event_id) order.

    Two windows over ONE shuffle on user_id (same sort, opposite
    frames): ``last(obs) IGNORE NULLS`` over the preceding frame and
    ``first(obs) IGNORE NULLS`` over the following frame, carrying
    (value, epoch-microsecond) pairs.  At an observation row the two
    anchors coincide and the blend degenerates to the exact observed
    value; before a user's first observation the -1.0 sentinel applies
    (nullable-DOUBLE oracle convention); after the last, the value
    holds (trailing LOCF — the standard resample edge).

    Cross-engine determinism: the anchors are untouched doubles, the
    time ratio is a BIGINT-difference division, and the blend is
    written as ``prev + (next - prev) * ratio`` in BOTH engines — the
    same IEEE operation sequence, so results are bit-identical, not
    merely tolerance-close.  ``kind`` labels each row (obs / interp /
    leading / trailing) so downstream can weight imputed points.
    """
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs = F.when(F.col("event_type") != "view", F.col("value"))
    obs_t = F.when(F.col("event_type") != "view", F.unix_micros("ts"))
    prev_v = F.last(obs, ignorenulls=True).over(wp)
    prev_t = F.last(obs_t, ignorenulls=True).over(wp)
    next_v = F.first(obs, ignorenulls=True).over(wf)
    next_t = F.first(obs_t, ignorenulls=True).over(wf)
    t = F.unix_micros("ts")
    ratio = (t - prev_t) / (next_t - prev_t)
    blend = prev_v + (next_v - prev_v) * ratio
    interp = (
        F.when(prev_v.isNull(), F.lit(-1.0))
        .when(next_v.isNull(), prev_v)
        .when(next_t == prev_t, prev_v)
        .otherwise(blend)
    )
    kind = (
        F.when(obs.isNotNull(), F.lit("obs"))
        .when(prev_v.isNull(), F.lit("leading"))
        .when(next_v.isNull(), F.lit("trailing"))
        .otherwise(F.lit("interp"))
    )
    return events.select(
        "event_id",
        "user_id",
        interp.alias("interp_value"),
        kind.alias("kind"),
    )


EWMA_ALPHA = 0.1
EWMA_CAP = 256


def user_value_ewma(events: DataFrame) -> DataFrame:
    """Per-user exponentially weighted moving average of ``value`` —
    the classic recency-weighted feature (recursive ``y = (1-α)·y +
    α·x``, which no window frame expresses) computed as an ORDERED
    ARRAY FOLD that never leaves the JVM: sort-collect the user's
    (ts, event_id, value) sequence, keep the trailing ``EWMA_CAP`` elements,
    and ``F.aggregate`` the fold — one shuffle, whole-stage codegen,
    no Python (contrast ``DirectionChangesUDTF``, which exists to
    exercise the Python table-function surface; this is how the same
    per-key sequential shape ships FAST when the logic is expressible
    as a lambda).

    The trailing cap is the scale guard: per-group state is ≤ ``EWMA_CAP``
    elements regardless of a user's history length (the dropped prefix
    contributes weight ≤ (1-α)^cap ≈ 2e-12 at α = ``EWMA_ALPHA`` — below
    double noise), so executor memory is bounded exactly like the
    table-arg UDTF's O(1) state.

    Cross-engine determinism: the fold SEEDS WITH THE FIRST ELEMENT
    (DuckDB ``list_reduce`` fold1 semantics, mirrored here via
    element_at + slice) and both engines execute the identical
    ``acc·(1-α) + α·x`` sequence over identical doubles —
    bit-identical results, no rounding.
    """
    ordered = F.transform(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ),
        lambda s: s["value"],
    )
    per_user = events.filter(F.col("value").isNotNull()).groupBy(
        "user_id"
    ).agg(
        ordered.alias("vals"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    tail = F.slice(
        F.col("vals"),
        F.greatest(F.lit(1), F.size("vals") - F.lit(EWMA_CAP - 1)),
        F.lit(EWMA_CAP),
    )
    ewma = F.aggregate(
        F.slice(tail, 2, F.greatest(F.size(tail) - 1, F.lit(0))),
        F.element_at(tail, 1),
        lambda acc, x: acc * F.lit(1.0 - EWMA_ALPHA) + F.lit(EWMA_ALPHA) * x,
    )
    return per_user.select("user_id", "n_events", ewma.alias("ewma_value"))


def watermark_delay_plan(events: DataFrame, arrival: str = "event_id") -> DataFrame:
    """Size a streaming watermark from observed event-time lateness.

    ``arrival`` is the ingest-sequence column (arrival-order proxy;
    ``event_id`` by default, ties broken on event_id), so a row's
    lateness is how far the event-time high-water mark had already
    advanced when the row arrived:
    ``running_max(ts) - ts`` over arrival order, per event type.
    The per-type lateness quantiles are exactly what
    ``withWatermark`` needs: a delay of the p99 lateness keeps 99% of
    late rows inside windowed aggregations; the max is the
    zero-data-loss bound.

    Distributed shape: one window shuffle on event_type (running max
    over arrival order), then a per-type aggregate that AQE
    co-partitions with the window — lateness never leaves the
    executor that computed it.  A skewed event type bounds the window
    partition at that type's row count, the same exposure every
    sessionization window here has (documented in ``sessionize``).
    """
    w = (
        Window.partitionBy("event_type")
        .orderBy(arrival, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = events.select(
        "event_type",
        (
            F.unix_timestamp(F.max("ts").over(w)) - F.unix_timestamp("ts")
        ).alias("late_s"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(F.when(F.col("late_s") > 0, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("late_frac"),
        F.round(F.percentile("late_s", F.lit(0.5)), 2).alias("p50_late_s"),
        F.round(F.percentile("late_s", F.lit(0.99)), 2).alias("p99_late_s"),
        F.max("late_s").alias("max_late_s"),
        # recommended withWatermark delay: p99 rounded UP to a whole
        # minute (operators quantize watermark delays coarsely).
        (F.ceil(F.percentile("late_s", F.lit(0.99)) / 60) * 60).alias(
            "watermark_delay_s"
        ),
    )
