"""Event and media family (``events_``, ``media_``):
sessionization, windows, funnels, retention, sketches, time-series
fill, interval joins and planning over the events table, and the
multimodal plumbing over media payloads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars
from ..operators import dq, multimodal, sessions
from ..sources import compaction
from ..sources.tables import load_table
from ._base import ORACLE_SQL, register, register_texts


@register(
    "events_tumbling_window",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL '10 minutes', ts)) AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS event_count,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY window_start, event_type
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scalars.tumbling_event_windows(load_table(spark, sf_dir, "events"))


@register(
    "events_window_users",
    """
    SELECT CAST(epoch(time_bucket(INTERVAL '60 minutes', ts)) AS BIGINT)
               AS window_start,
           COUNT(DISTINCT user_id) AS distinct_users,
           TRUE AS sketch_ok
    FROM events GROUP BY window_start
    """,
)
def events_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event-time window: exact + HLL sketch
    invariant in one grouped aggregate (scalars.windowed_distinct_users
    — the streaming-feasible form of the metric)."""
    return scalars.windowed_distinct_users(load_table(spark, sf_dir, "events"))


@register(
    "events_bitmap_users",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS distinct_users
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
    """,
)
def events_bitmap_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct via two-level bitmap aggregation
    (scalars.bitmap_distinct_users) — hash-matches COUNT(DISTINCT)
    by construction, no tolerance band."""
    return scalars.bitmap_distinct_users(load_table(spark, sf_dir, "events"))


@register(
    "events_sketch_merge",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS merge_ok
    FROM events WHERE user_id IS NOT NULL
    GROUP BY event_type
    """,
)
def events_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level DataSketches rollup: per-day hll_sketch_agg partials
    → hll_union_agg per type, estimate asserted against the exact
    count (scalars.mergeable_user_sketches — the re-aggregatable
    sketch pattern)."""
    return scalars.mergeable_user_sketches(load_table(spark, sf_dir, "events"))


@register(
    "media_metadata",
    """
    SELECT doc_id,
           ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_metadata(load_table(spark, sf_dir, "documents"))


@register(
    "media_decode_features",
    """
    WITH m AS (SELECT doc_id,
                      ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
                          AS media_type,
                      octet_length(encode(text)) AS nb
               FROM documents)
    SELECT doc_id, media_type,
           CAST(nb AS INTEGER) AS n_bytes,
           CAST(16 + nb % 625 AS INTEGER) AS width,
           CAST(16 + (nb * 7) % 475 AS INTEGER) AS height,
           CAST(1 + nb % 24 AS INTEGER) AS n_frames
    FROM m
    """,
)
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing with the deterministic fake kernel —
    the Python/Arrow path itself is oracle-checked."""
    return multimodal.decode_features(load_table(spark, sf_dir, "documents"))


@register(
    "media_frame_sample",
    """
    WITH m AS (SELECT doc_id,
                      ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
                          AS media_type,
                      octet_length(encode(text)) AS nb
               FROM documents),
    v AS (SELECT doc_id, 1 + nb % 24 AS n_frames FROM m WHERE media_type = 'video')
    SELECT doc_id, CAST(u.f AS INTEGER) AS frame_idx
    FROM v, UNNEST(range(0, n_frames, 8)) AS u(f)
    """,
)
def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.frame_sample(load_table(spark, sf_dir, "documents"))


@register(
    "events_sessionize",
    f"""
    WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > {sessions.SESSION_GAP_MINUTES * 60 * 1_000_000}
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, us,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM m)
    SELECT user_id,
           MIN(us) AS session_start_us,
           COUNT(*) AS n_events,
           MAX(us) - MIN(us) AS duration_us
    FROM s GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessions.sessionize(load_table(spark, sf_dir, "events"))


@register(
    "events_funnel",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
    v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
          GROUP BY e.user_id)
    SELECT u.user_id,
           v.t1 AS step_1_us, c.t2 AS step_2_us, p.t3 AS step_3_us,
           CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                     WHEN c.t2 IS NOT NULL THEN 2
                     WHEN v.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS steps_completed
    FROM u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user in ONE shuffle via
    a sorted per-user fold (sessions.funnel); the oracle states the
    same semantics as three chained min-aggregate joins."""
    return sessions.funnel(load_table(spark, sf_dir, "events"))


@register(
    "events_sliding_window",
    """
    WITH ex AS (
        SELECT event_type, ts,
               time_bucket(INTERVAL '5 minutes', ts) - (u.o * INTERVAL '5 minutes')
                   AS wstart
        FROM events, UNNEST([0, 1]) AS u(o)
    )
    SELECT CAST(epoch(wstart) AS BIGINT) AS window_start,
           event_type,
           COUNT(*) AS event_count
    FROM ex
    WHERE ts >= wstart AND ts < wstart + INTERVAL '10 minutes'
    GROUP BY window_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scalars.sliding_event_windows(load_table(spark, sf_dir, "events"))


@register(
    "events_session_window",
    f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w >= {sessions.SESSION_GAP_MINUTES * 60 * 1_000_000}
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
    s AS (SELECT user_id, us,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM m)
    SELECT user_id,
           MIN(us) AS session_start_us,
           MAX(us) + {sessions.SESSION_GAP_MINUTES * 60 * 1_000_000} AS session_end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_seq
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native F.session_window (gap-close rule is >=, unlike the
    lag-based sessionize's >; see operators.sessions docstring)."""
    return sessions.session_window_stats(load_table(spark, sf_dir, "events"))


@register(
    "media_resize",
    """
    WITH m AS (SELECT doc_id,
                      ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
                          AS media_type,
                      octet_length(encode(text)) AS nb
               FROM documents),
    i AS (SELECT doc_id, media_type,
                 CAST(16 + nb % 625 AS INTEGER) AS width,
                 CAST(16 + (nb * 7) % 475 AS INTEGER) AS height
          FROM m WHERE media_type = 'image'),
    s AS (SELECT *, least(1.0, 128.0 / greatest(width, height)) AS scale FROM i)
    SELECT doc_id, media_type, width, height,
           CAST(greatest(1, floor(width * scale)) AS INTEGER) AS out_width,
           CAST(greatest(1, floor(height * scale)) AS INTEGER) AS out_height,
           CAST(trunc(scale * 100) AS INTEGER) AS scale_pct
    FROM s
    """,
)
def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving thumbnail geometry over mapInPandas (the
    missing 'resize' stage of the multimodal quartet)."""
    return multimodal.resize_images(load_table(spark, sf_dir, "documents"))


@register(
    "media_audio_chunks",
    """
    WITH a AS (SELECT doc_id,
                      CAST(floor(octet_length(encode(text)) / 2) AS BIGINT)
                          AS n_samples
               FROM documents WHERE doc_id % 3 = 1),
    c AS (SELECT doc_id, n_samples,
                 unnest(range(CAST(ceil(n_samples / 80.0) AS BIGINT))) AS chunk_idx
          FROM a WHERE n_samples > 0)
    SELECT doc_id, chunk_idx,
           chunk_idx * 80 AS start_sample,
           least(80, n_samples - chunk_idx * 80) AS chunk_samples
    FROM c
    """,
)
def media_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-duration audio chunk windows (multimodal.audio_chunks)."""
    return multimodal.audio_chunks(load_table(spark, sf_dir, "documents"))


@register(
    "events_asof_join",
    """
    WITH e AS (SELECT user_id, event_id, ts, event_type, value, epoch_us(ts) AS us
               FROM events WHERE event_type IN ('click', 'purchase')),
    c AS (SELECT user_id, event_id, us AS ts_us, event_type,
                 last_value(CASE WHEN event_type = 'purchase' THEN value END
                            IGNORE NULLS) OVER w AS raw_val,
                 last_value(CASE WHEN event_type = 'purchase' THEN us END
                            IGNORE NULLS) OVER w AS asof_ts_us
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id, event_id, ts_us,
           ROUND(raw_val, 4) AS asof_value, asof_ts_us
    FROM c WHERE event_type = 'click' AND raw_val IS NOT NULL
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join by composition: each click paired with the same
    user's most recent prior-or-simultaneous purchase (single window
    pass — no range join)."""
    return sessions.asof_last_purchase(load_table(spark, sf_dir, "events"))


@register(
    "events_attribution_join",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           ROUND(p.value, 4) AS purchase_value,
           c.event_id AS click_id,
           epoch_us(c.ts) AS click_ts_us
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join (purchase ⋈ preceding clicks within 30 min),
    run as a batch frame through streaming.windows.attributed_purchases,
    whose watermarked sides would bound its state over a stream."""
    from pyspark.sql import functions as F

    from ..streaming import windows as streaming_windows

    df = streaming_windows.attributed_purchases(load_table(spark, sf_dir, "events"))
    return df.select(
        "purchase_id",
        "user_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
        "click_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
    )


FIRST_TOUCH_SQL = """
    SELECT user_id, event_type, us AS first_ts_us, event_id AS first_event_id
    FROM (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM events WHERE user_id IS NOT NULL
    ) WHERE rn = 1
"""


@register("events_first_touch", FIRST_TOUCH_SQL)
def events_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest event per (user, event_type) via one min-struct
    aggregation — sessions.first_touch, the batch oracle of the
    streaming dedup twin."""
    return sessions.first_touch(load_table(spark, sf_dir, "events"))


COHORT_RETENTION_SQL = """
    WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                FROM events WHERE user_id IS NOT NULL),
    f AS (SELECT user_id, MIN(d) AS cohort_d FROM ud GROUP BY user_id)
    SELECT strftime(f.cohort_d, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort_d, ud.d) AS INTEGER) AS day_offset,
           COUNT(*) AS active_users
    FROM ud JOIN f ON ud.user_id = f.user_id
    GROUP BY cohort_day, day_offset
"""


@register("events_retention_cohorts", COHORT_RETENTION_SQL)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention matrix over distinct (user, day) pairs —
    sessions.cohort_retention."""
    return sessions.cohort_retention(load_table(spark, sf_dir, "events"))


# [EXT] First-order Markov transitions over per-user event timelines
# (lead() with event_id tie-break; probabilities normalized per
# from-state over the bounded |event_types|² domain).
EVENTS_TRANSITIONS_SQL = """
    WITH pairs AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events),
    trans AS (SELECT event_type, next_type, COUNT(*) AS n_trans
              FROM pairs WHERE next_type IS NOT NULL
              GROUP BY event_type, next_type)
    SELECT event_type, next_type, n_trans,
           ROUND(n_trans * 1.0 / SUM(n_trans) OVER (PARTITION BY event_type),
                 4) AS p_next
    FROM trans
"""


@register("events_transitions", EVENTS_TRANSITIONS_SQL)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Markov next-event transition matrix
    (operators/sessions.py:event_transitions)."""
    return sessions.event_transitions(load_table(spark, sf_dir, "events"))


# [EXT] Per-window heavy hitters (top-3 event types per hour; the
# rank runs on the bounded aggregate, never the fact table).
EVENTS_WINDOW_TOPK_SQL = """
    WITH counts AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '60 minutes', ts)) AS BIGINT)
                   AS window_start,
               event_type,
               COUNT(*) AS n
        FROM events GROUP BY window_start, event_type)
    SELECT window_start, event_type, n, type_rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type ASC) AS INTEGER) AS type_rank
        FROM counts)
    WHERE type_rank <= 3
"""


@register("events_window_topk", EVENTS_WINDOW_TOPK_SQL)
def events_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Windowed heavy hitters
    (functions/scalars.py:windowed_top_event_types)."""
    return scalars.windowed_top_event_types(load_table(spark, sf_dir, "events"))


# [EXT] Exact per-type value deciles (single percentile-array agg).
EVENTS_DECILES_SQL = """
    SELECT event_type,
           CAST((i + 1) * 10 AS INTEGER) AS decile_pct,
           ROUND(dec[i + 1], 4) AS decile_value
    FROM (SELECT event_type,
                 quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                       0.6, 0.7, 0.8, 0.9]) AS dec
          FROM events GROUP BY event_type),
         UNNEST(range(0, 9)) AS u(i)
"""


@register("events_value_deciles", EVENTS_DECILES_SQL)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact equi-depth decile summary per event type
    (functions/scalars.py:event_value_deciles)."""
    return scalars.event_value_deciles(load_table(spark, sf_dir, "events"))


# [EXT] Daily bounce rate over sessionized events.
EVENTS_BOUNCE_SQL = f"""
    WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > {sessions.SESSION_GAP_MINUTES * 60 * 1_000_000}
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, us,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM m),
    sess AS (SELECT user_id, session_seq, MIN(us) AS start_us,
                    COUNT(*) AS n_events
             FROM s GROUP BY user_id, session_seq)
    SELECT strftime(CAST(make_timestamp(start_us) AS DATE),
                    '%Y-%m-%d') AS day,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS bounce_rate
    FROM sess GROUP BY day
"""


@register("events_bounce_rate", EVENTS_BOUNCE_SQL)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Daily bounce rate (operators/sessions.py:bounce_rate_daily)."""
    return sessions.bounce_rate_daily(load_table(spark, sf_dir, "events"))


# [EXT] Per-type inter-arrival cadence (exact median / p95).
EVENTS_GAPS_SQL = """
    WITH g AS (SELECT event_type,
                      epoch_us(ts) - lag(epoch_us(ts)) OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY ts ASC, event_id ASC) AS gap_us
               FROM events WHERE user_id IS NOT NULL)
    SELECT event_type,
           COUNT(*) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / 1e6, 2) AS median_gap_sec,
           ROUND(quantile_cont(gap_us, 0.95) / 1e6, 2) AS p95_gap_sec
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
"""


@register("events_gap_stats", EVENTS_GAPS_SQL)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Inter-arrival gap stats
    (operators/sessions.py:inter_event_gap_stats)."""
    return sessions.inter_event_gap_stats(load_table(spark, sf_dir, "events"))


# [EXT] Exact binary-asset dedup off the checksum catalog.
MEDIA_DEDUP_SQL = """
    SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
               AS media_type,
           md5(text) AS checksum,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY media_type, checksum
"""


@register("media_payload_dedup", MEDIA_DEDUP_SQL)
def media_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Binary-asset exact dedup
    (operators/multimodal.py:payload_dedup)."""
    return multimodal.payload_dedup(load_table(spark, sf_dir, "documents"))


# [EXT] Exact DAU / trailing-7-day WAU / stickiness.
EVENTS_DAU_WAU_SQL = """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    wau AS (SELECT s.day, COUNT(DISTINCT d.user_id) AS wau
            FROM (SELECT day FROM dau) s
            JOIN du d ON d.day <= s.day AND d.day >= s.day - 6
            GROUP BY s.day)
    SELECT strftime(dau.day, '%Y-%m-%d') AS day,
           dau.dau, wau.wau,
           ROUND(dau.dau * 1.0 / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
"""


@register("events_dau_wau", EVENTS_DAU_WAU_SQL)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact DAU/WAU engagement report
    (operators/sessions.py:dau_wau)."""
    return sessions.dau_wau(load_table(spark, sf_dir, "events"))


# [EXT] Conversion-window funnel (each step within 24h of the last).
_FW_BOUND = 24 * 3600 * 1_000_000


EVENTS_FUNNEL_WINDOW_SQL = f"""
    WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
    v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
            AND epoch_us(e.ts) <= v.t1 + {_FW_BOUND}
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
            AND epoch_us(e.ts) <= c.t2 + {_FW_BOUND}
          GROUP BY e.user_id)
    SELECT u.user_id,
           COALESCE(v.t1, -1) AS step_1_us,
           COALESCE(c.t2, -1) AS step_2_us,
           COALESCE(p.t3, -1) AS step_3_us,
           CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                     WHEN c.t2 IS NOT NULL THEN 2
                     WHEN v.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS steps_completed
    FROM u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
"""


@register("events_funnel_window", EVENTS_FUNNEL_WINDOW_SQL)
def events_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] 24h-conversion-window funnel
    (operators/sessions.py:funnel_within)."""
    return sessions.funnel_within(load_table(spark, sf_dir, "events"))


# [EXT] Daily event-volume anomalies: trailing-window z-score over the
# (day x type) count table; current day excluded from its baseline.
EVENTS_ANOMALY_SQL = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
    scored AS (
        SELECT day, event_type, n_events,
               COUNT(*) OVER w AS n_prior,
               AVG(n_events) OVER w AS mean_prior,
               STDDEV_SAMP(n_events) OVER w AS sd_prior
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n_events, n_prior,
           COALESCE(ROUND(mean_prior, 4), -1.0) AS mean_prior,
           (n_prior >= 3 AND sd_prior > 0) AS scoreable,
           COALESCE(ROUND(CASE WHEN n_prior >= 3 AND sd_prior > 0
                      THEN (n_events - mean_prior) / sd_prior END, 4), 0.0)
               AS zscore,
           COALESCE(CASE WHEN n_prior >= 3 AND sd_prior > 0
                         THEN abs((n_events - mean_prior) / sd_prior) >= 2.0
                    END, FALSE) AS is_anomaly
    FROM scored
"""


@register("events_anomaly_zscore", EVENTS_ANOMALY_SQL)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Trailing z-score anomaly flags on daily event volumes
    (operators/sessions.py:daily_anomaly_zscore)."""
    return sessions.daily_anomaly_zscore(load_table(spark, sf_dir, "events"))


# [EXT] Cumulative user-acquisition curve.
EVENTS_USER_GROWTH_SQL = """
    WITH first AS (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
                   FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    daily AS (SELECT day, COUNT(*) AS new_users FROM first GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM daily
"""


@register("events_user_growth", EVENTS_USER_GROWTH_SQL)
def events_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] New + cumulative distinct users per day
    (operators/sessions.py:user_growth)."""
    return sessions.user_growth(load_table(spark, sf_dir, "events"))


# [EXT] Pareto activity-concentration report by user decile.
EVENTS_CONCENTRATION_SQL = """
    WITH per_user AS (SELECT user_id, COUNT(*) AS n_events
                      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    bucketed AS (SELECT n_events,
                        NTILE(10) OVER (ORDER BY n_events DESC, user_id ASC)
                            AS decile
                 FROM per_user),
    agg AS (SELECT decile, COUNT(*) AS n_users,
                   CAST(SUM(n_events) AS BIGINT) AS n_events
            FROM bucketed GROUP BY decile)
    SELECT decile, n_users, n_events,
           ROUND(n_events / (SELECT SUM(n_events) FROM agg), 4) AS event_share
    FROM agg
"""


@register("events_concentration", EVENTS_CONCENTRATION_SQL)
def events_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Activity-decile Pareto shares
    (operators/sessions.py:event_concentration)."""
    return sessions.event_concentration(load_table(spark, sf_dir, "events"))


# [EXT] Markov stationary distribution: 3 power-iteration steps over
# the transition matrix, uniform start, per-step 6-digit rounding.
_MK_STEP = """
    {out} AS (SELECT p.next_type AS t, ROUND(SUM({prev}.pv * p.p), 6) AS pv
              FROM {prev} JOIN p ON {prev}.t = p.event_type
              GROUP BY p.next_type)"""


EVENTS_MARKOV_SQL = f"""
    WITH pairs AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events),
    trans AS (SELECT event_type, next_type, COUNT(*) AS n_trans
              FROM pairs WHERE next_type IS NOT NULL
              GROUP BY event_type, next_type),
    p AS (SELECT event_type, next_type,
                 n_trans * 1.0 / SUM(n_trans) OVER (PARTITION BY event_type)
                     AS p
          FROM trans),
    types AS (SELECT DISTINCT event_type AS t FROM trans
              UNION SELECT DISTINCT next_type FROM trans),
    pi0 AS (SELECT t, 1.0 / (SELECT COUNT(*) FROM types) AS pv FROM types),
    {_MK_STEP.format(out='pi1', prev='pi0')},
    {_MK_STEP.format(out='pi2', prev='pi1')},
    {_MK_STEP.format(out='pi3', prev='pi2')}
    SELECT t AS event_type, pv AS pi FROM pi3
"""


@register("events_markov_stationary", EVENTS_MARKOV_SQL)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Power-iteration stationary distribution
    (operators/sessions.py:markov_stationary)."""
    return sessions.markov_stationary(load_table(spark, sf_dir, "events"))


# [EXT] Hour-of-day seasonality + chi-square uniformity per type.
EVENTS_SEASONALITY_SQL = """
    WITH hourly AS (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
                           COUNT(*) AS n
                    FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(arg_max(hr, n * 100 - hr) AS INT) AS peak_hour,
           ROUND(MAX(n) * 1.0 / SUM(n), 4) AS peak_share,
           ROUND(24.0 * SUM(n * n) / SUM(n) - SUM(n), 4) AS chi2,
           (24.0 * SUM(n * n) / SUM(n) - SUM(n)) < 35.17 AS is_uniform
    FROM hourly GROUP BY event_type
"""


@register("events_seasonality", EVENTS_SEASONALITY_SQL)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Hourly seasonality profile + uniformity test
    (operators/sessions.py:hourly_seasonality)."""
    return sessions.hourly_seasonality(load_table(spark, sf_dir, "events"))


# [EXT] Two-proportion A/B readout on an md5-parity user split.
_DDB_USER_BUCKET = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(cast(user_id as varchar)),"
    f" {k + 1}, 1)) - 1) * {16 ** (3 - k)}"
    for k in range(4)
)


EVENTS_AB_SQL = f"""
    WITH per_user AS (
        SELECT user_id, SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS n_conv_events
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    med AS (SELECT quantile_cont(n_conv_events, 0.5) AS med FROM per_user),
    assigned AS (SELECT ({_DDB_USER_BUCKET}) % 2 AS arm,
                        CASE WHEN n_conv_events > med THEN 1 ELSE 0 END
                            AS converted
                 FROM per_user CROSS JOIN med),
    arms AS (SELECT CAST(SUM(CASE WHEN arm = 0
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                    CAST(SUM(CASE WHEN arm = 1
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                    SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS conv_a,
                    SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS conv_b
             FROM assigned),
    calc AS (SELECT n_a, n_b, conv_a, conv_b,
                    CASE WHEN n_a > 0 THEN conv_a * 1.0 / n_a END AS p_a,
                    CASE WHEN n_b > 0 THEN conv_b * 1.0 / n_b END AS p_b,
                    (conv_a + conv_b) * 1.0 / (n_a + n_b) AS pool,
                    (n_a > 0 AND n_b > 0
                     AND (conv_a + conv_b) * 1.0 / (n_a + n_b) > 0
                     AND (conv_a + conv_b) * 1.0 / (n_a + n_b) < 1)
                        AS testable
             FROM arms)
    SELECT n_a, n_b,
           COALESCE(ROUND(p_a, 4), 0.0) AS rate_a,
           COALESCE(ROUND(p_b, 4), 0.0) AS rate_b,
           COALESCE(ROUND(p_a - p_b, 4), 0.0) AS lift,
           testable,
           COALESCE(ROUND(CASE WHEN testable THEN (p_a - p_b)
                          / sqrt(pool * (1 - pool)
                                 * (1.0 / n_a + 1.0 / n_b)) END, 3), 0.0)
               AS z_stat,
           COALESCE(CASE WHEN testable THEN abs((p_a - p_b)
                         / sqrt(pool * (1 - pool)
                                * (1.0 / n_a + 1.0 / n_b))) > 1.96 END,
                    FALSE) AS significant
    FROM calc
"""


@register("events_ab_test", EVENTS_AB_SQL)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic-split A/B conversion readout with
    two-proportion z-test (operators/sessions.py:ab_conversion_test)."""
    return sessions.ab_conversion_test(load_table(spark, sf_dir, "events"))


# [EXT] Point-in-time per-(user, day) training features.
EVENTS_FEATURES_SQL = """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS day_value,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id, day)
    SELECT user_id,
           strftime(day, '%Y-%m-%d') AS day,
           n_events, day_value, n_purchases,
           CAST(COALESCE(SUM(n_events) OVER (
                        PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS events_prev7,
           COALESCE(day - LAG(day) OVER (PARTITION BY user_id ORDER BY day),
                    -1) AS days_since_prev,
           CAST(SUM(n_events) OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS events_lifetime,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                AS INTEGER) AS active_day_idx
    FROM daily
"""


@register("events_user_features", EVENTS_FEATURES_SQL)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Leakage-safe per-(user, day) feature materialization
    (operators/sessions.py:user_day_features)."""
    return sessions.user_day_features(load_table(spark, sf_dir, "events"))


# [EXT] Per-user event-type Shannon entropy (bot/diversity signal).
EVENTS_ENTROPY_SQL = """
    WITH ut AS (SELECT user_id, event_type, COUNT(*) AS n
                FROM events WHERE user_id IS NOT NULL
                GROUP BY user_id, event_type),
    per_user AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
                        COUNT(*) AS n_types,
                        SUM(n * ln(n)) AS sum_nlogn
                 FROM ut GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           ROUND(ln(n_events) - sum_nlogn / n_events, 4) AS entropy,
           ROUND(CASE WHEN n_types > 1
                      THEN (ln(n_events) - sum_nlogn / n_events)
                           / ln(CAST(n_types AS DOUBLE))
                      ELSE 0.0 END, 4) AS norm_entropy
    FROM per_user
"""


register_texts(__name__, {
    "events_user_entropy": EVENTS_ENTROPY_SQL,
})


# [EXT] Pooled retention curve over the cohort matrix (composes the
# registered cohort oracle).
EVENTS_RETENTION_CURVE_SQL = f"""
    WITH m AS ({ORACLE_SQL["events_retention_cohorts"]}),
    sizes AS (SELECT cohort_day, active_users AS cohort_size
              FROM m WHERE day_offset = 0),
    max_off AS (SELECT cohort_day, MAX(day_offset) AS max_offset
                FROM m GROUP BY cohort_day),
    eligible AS (SELECT s.cohort_day, s.cohort_size, x.max_offset
                 FROM sizes s JOIN max_off x USING (cohort_day)),
    offsets AS (SELECT DISTINCT day_offset FROM m),
    denom AS (SELECT o.day_offset,
                     CAST(SUM(e.cohort_size) AS BIGINT) AS eligible_users,
                     COUNT(*) AS n_cohorts
              FROM offsets o JOIN eligible e
                ON e.max_offset >= o.day_offset
              GROUP BY o.day_offset),
    act AS (SELECT day_offset,
                   CAST(SUM(active_users) AS BIGINT) AS active_users
            FROM m GROUP BY day_offset)
    SELECT a.day_offset, d.n_cohorts, a.active_users, d.eligible_users,
           ROUND(a.active_users * 1.0 / d.eligible_users, 4) AS retention
    FROM act a JOIN denom d USING (day_offset)
"""


@register("events_retention_curve", EVENTS_RETENTION_CURVE_SQL)
def events_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Pooled day-N retention curve
    (operators/sessions.py:retention_curve)."""
    return sessions.retention_curve(load_table(spark, sf_dir, "events"))


# [EXT] Aggregate funnel conversion report (composes the funnel oracle).
EVENTS_FUNNEL_RATES_SQL = f"""
    WITH f AS ({ORACLE_SQL["events_funnel"]}),
    reached AS (SELECT
        CAST(COALESCE(SUM(CASE WHEN steps_completed >= 1
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS r0,
        CAST(COALESCE(SUM(CASE WHEN steps_completed >= 2
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS r1,
        CAST(COALESCE(SUM(CASE WHEN steps_completed >= 3
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS r2,
        COUNT(*) AS total FROM f)
    SELECT step_idx, step, n_reached,
           CASE WHEN COALESCE(n_prev, total) > 0 AND total > 0
                THEN ROUND(n_reached * 1.0 / COALESCE(n_prev, total), 4)
                ELSE 0.0 END AS step_rate,
           CASE WHEN total > 0
                THEN ROUND(n_reached * 1.0 / total, 4)
                ELSE 0.0 END AS overall_rate,
           (COALESCE(n_prev, total) > 0 AND total > 0) AS rate_defined
    FROM (
        SELECT 1 AS step_idx, 'view' AS step, r0 AS n_reached,
               CAST(NULL AS BIGINT) AS n_prev, total FROM reached
        UNION ALL
        SELECT 2, 'click', r1, r0, total FROM reached
        UNION ALL
        SELECT 3, 'purchase', r2, r1, total FROM reached
    )
"""


@register("events_funnel_rates", EVENTS_FUNNEL_RATES_SQL)
def events_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Step/overall funnel conversion rates
    (operators/sessions.py:funnel_step_rates)."""
    return sessions.funnel_step_rates(load_table(spark, sf_dir, "events"))


# Invariant-form oracle (sketch bytes aren't SQL-portable): the exact
# counts plus always-TRUE flags the Spark side must reproduce — same
# convention as events_sketch_merge / events_bitmap_users.  The
# event_type IS NOT NULL mirrors the operator's guard (its rank pass
# rejoins on event_type, and an equi-join drops a NULL-keyed group a
# plain GROUP BY would emit — see mergeable_value_quantiles).
KLL_QUANTILES_SQL = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           TRUE AS n_ok,
           TRUE AS q50_ok,
           TRUE AS q90_ok,
           TRUE AS q99_ok
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type
"""


@register("events_kll_quantiles", KLL_QUANTILES_SQL)
def events_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Mergeable KLL quantile rollup: per-(type, day) sketch
    partials merged per type, estimates rank-checked against the raw
    values (functions/scalars.py:mergeable_value_quantiles)."""
    from ..functions import scalars

    return scalars.mergeable_value_quantiles(load_table(spark, sf_dir, "events"))


# LAG over the DISTINCT days actually present — a data gap pairs
# across it — exactly as the Spark window does.
THETA_RETENTION_SQL = """
    WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
                       user_id
                FROM events WHERE user_id IS NOT NULL),
    days AS (SELECT d, LAG(d) OVER (ORDER BY d) AS prev_d
             FROM (SELECT DISTINCT d FROM ud)),
    dp AS (SELECT d, prev_d FROM days WHERE prev_d IS NOT NULL),
    ret AS (SELECT u.d, COUNT(*) AS n_ret
            FROM ud u
            JOIN dp ON u.d = dp.d
            JOIN ud p ON p.user_id = u.user_id AND p.d = dp.prev_d
            GROUP BY u.d),
    tot AS (SELECT d, COUNT(*) AS n_users FROM ud GROUP BY d)
    SELECT strftime(dp.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(ret.n_ret, 0) AS BIGINT) AS exact_retained,
           CAST(tot.n_users - COALESCE(ret.n_ret, 0) AS BIGINT) AS exact_new,
           TRUE AS retained_ok,
           TRUE AS new_ok
    FROM dp
    LEFT JOIN ret ON dp.d = ret.d
    JOIN tot ON dp.d = tot.d
"""


@register("events_theta_retention", THETA_RETENTION_SQL)
def events_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Theta-sketch day-over-day retention: stored daily
    sketches answer retained/new distinct counts by set INTERSECTION
    and DIFFERENCE — the re-aggregatable set-op capability HLL lacks
    (functions/scalars.py:theta_retained_users)."""
    from ..functions import scalars

    return scalars.theta_retained_users(load_table(spark, sf_dir, "events"))


# DuckDB mirror of sessions.forward_fill_values: LAST_VALUE IGNORE
# NULLS over the same (user, ts, event_id) order; no arithmetic on the
# carried double, so values are bit-identical.  -1.0 sentinel +
# has_value flag per the nullable-DOUBLE oracle convention.
FORWARD_FILL_SQL = """
    WITH e AS (SELECT event_id, user_id, ts,
                      CASE WHEN event_type <> 'view' THEN value END AS obs
               FROM events),
    f AS (SELECT event_id, user_id,
                 LAST_VALUE(obs IGNORE NULLS) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS filled
          FROM e)
    SELECT event_id, user_id,
           COALESCE(filled, -1.0) AS filled_value,
           filled IS NOT NULL AS has_value
    FROM f
"""


@register("events_forward_fill", FORWARD_FILL_SQL)
def events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user forward-fill (last observation carried forward):
    sparse-metric imputation in one ordered window pass, O(1) state
    per user (operators/sessions.py:forward_fill_values)."""
    from ..operators import sessions

    return sessions.forward_fill_values(load_table(spark, sf_dir, "events"))


# DuckDB mirror of sessions.interpolate_values.  The blend is written
# prev + (next - prev) * ((t - pt) / (nt - pt)) in BOTH engines — the
# identical IEEE sequence over identical anchors, so values are
# bit-identical (the time ratio is a BIGINT-difference division).
INTERPOLATE_SQL = """
    WITH e AS (SELECT event_id, user_id, ts,
                      epoch_us(ts) AS t,
                      CASE WHEN event_type <> 'view' THEN value END
                          AS obs,
                      CASE WHEN event_type <> 'view' THEN epoch_us(ts)
                          END AS obs_t
               FROM events),
    w AS (SELECT event_id, user_id, t, obs,
                 LAST_VALUE(obs IGNORE NULLS) OVER pw AS prev_v,
                 LAST_VALUE(obs_t IGNORE NULLS) OVER pw AS prev_t,
                 FIRST_VALUE(obs IGNORE NULLS) OVER fw AS next_v,
                 FIRST_VALUE(obs_t IGNORE NULLS) OVER fw AS next_t
          FROM e
          WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW),
                 fw AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING))
    SELECT event_id, user_id,
           CASE WHEN prev_v IS NULL THEN -1.0
                WHEN next_v IS NULL THEN prev_v
                WHEN next_t = prev_t THEN prev_v
                ELSE prev_v + (next_v - prev_v)
                     * ((t - prev_t) / (next_t - prev_t))
           END AS interp_value,
           CASE WHEN obs IS NOT NULL THEN 'obs'
                WHEN prev_v IS NULL THEN 'leading'
                WHEN next_v IS NULL THEN 'trailing'
                ELSE 'interp'
           END AS kind
    FROM w
"""


@register("events_interpolate", INTERPOLATE_SQL)
def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user linear interpolation between observations: the
    two-sided resample (time-weighted blend of nearest anchors), one
    user_id shuffle, bit-identical across engines
    (operators/sessions.py:interpolate_values)."""
    from ..operators import sessions

    return sessions.interpolate_values(load_table(spark, sf_dir, "events"))


# DuckDB mirror of sessions.user_value_ewma (α=0.1, cap 256):
# list(value ORDER BY ts, event_id), trailing-cap slice, list_reduce
# fold (fold1 — seeds with the first element, exactly as the Spark
# side's element_at + slice) — identical IEEE sequence, bit-identical.
EWMA_SQL = """
    WITH u AS (SELECT user_id,
                      list(value ORDER BY ts, event_id) AS vals,
                      CAST(COUNT(*) AS BIGINT) AS n_events
               FROM events WHERE value IS NOT NULL
               GROUP BY user_id),
    c AS (SELECT user_id, n_events,
                 vals[GREATEST(1, len(vals) - 255) : len(vals)] AS tail
          FROM u)
    SELECT user_id, n_events,
           list_reduce(tail, (acc, x) -> acc * 0.9 + 0.1 * x)
               AS ewma_value
    FROM c
"""


@register("events_user_ewma", EWMA_SQL)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user EWMA of value: the recursive recency-weighted
    feature as a JVM-side ordered array fold (one shuffle, no Python),
    trailing-256 cap bounding per-group state
    (operators/sessions.py:user_value_ewma)."""
    from ..operators import sessions

    return sessions.user_value_ewma(load_table(spark, sf_dir, "events"))


# DuckDB mirror of compaction.plan_compaction_bins: same synthetic
# per-(event_type, hour) file bytes, same running-sum bin assignment.
# Every aggregate is CAST BIGINT (DuckDB SUM(int) is HUGEINT); the
# hour bounds cross the engine boundary as epoch_us — raw TIMESTAMP
# columns are host-timezone-dependent in plain PySpark collect()
# (datetime.fromtimestamp uses the DRIVER's zone), which the round-11
# TZ=America/New_York sweep caught on exactly this query.
COMPACTION_BINS_SQL = """
    WITH files AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               CAST(SUM(COALESCE(length(props), 0) + 48) AS BIGINT) AS file_bytes
        FROM events GROUP BY 1, 2),
    binned AS (
        SELECT event_type, hour_ts, file_bytes,
               CAST(SUM(file_bytes) OVER (PARTITION BY event_type ORDER BY hour_ts)
                    AS BIGINT) AS cum
        FROM files)
    SELECT event_type,
           CAST(FLOOR((cum - file_bytes) / 4096.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(file_bytes) AS BIGINT) AS bin_bytes,
           epoch_us(MIN(hour_ts)) AS first_hour_us,
           epoch_us(MAX(hour_ts)) AS last_hour_us
    FROM binned GROUP BY 1, 2
"""


@register("events_compaction_bins", COMPACTION_BINS_SQL)
def events_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Small-file compaction planner — greedy time-ordered
    bin-packing of per-(event_type, hour) micro-batch files into
    ~target-byte merge groups via one running-sum window over the file
    inventory (sources/compaction.py:plan_compaction_bins).  Hour
    bounds emitted as epoch_us per the repo's NTZ-proof convention."""
    from pyspark.sql import functions as F

    plan = compaction.plan_compaction_bins(load_table(spark, sf_dir, "events"))
    return plan.select(
        "event_type",
        "bin_id",
        "n_files",
        "bin_bytes",
        F.unix_micros("first_hour").alias("first_hour_us"),
        F.unix_micros("last_hour").alias("last_hour_us"),
    )


# DuckDB mirror of compaction.plan_delete_vectors with the synthetic
# user_id % 29 = 3 purge list — same broadcast-shaped mark join, same
# per-(event_type, day) tally and action thresholds.
DELETE_PLAN_SQL = """
    WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 3),
    m AS (SELECT e.event_type, strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
                 CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS is_del
          FROM events e LEFT JOIN del d USING (user_id))
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_del) AS BIGINT) AS n_deleted,
           ROUND(SUM(is_del) * 1.0 / COUNT(*), 4) AS delete_frac,
           CASE WHEN SUM(is_del) = 0 THEN 'skip'
                WHEN SUM(is_del) * 1.0 / COUNT(*) > 0.2 THEN 'rewrite'
                ELSE 'deletion_vector' END AS action
    FROM m GROUP BY 1, 2
"""


@register("events_delete_plan", DELETE_PLAN_SQL)
def events_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GDPR-purge planning: per-partition rewrite vs
    deletion-vector vs skip decision for a broadcast delete-list
    (sources/compaction.py:plan_delete_vectors)."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    delete_users = (
        events.select("user_id").where(F.col("user_id") % 29 == 3).distinct()
    )
    return compaction.plan_delete_vectors(events, delete_users)


# DuckDB mirror of sessions.watermark_delay_plan over the jittered
# arrival sequence: identical window frame (ties broken on event_id),
# identical quantile interpolation (quantile_cont == F.percentile).
WATERMARK_PLAN_SQL = """
    WITH e AS (SELECT *, event_id + (event_id % 13) * 40 AS arrival_seq
               FROM events),
    l AS (SELECT event_type,
                 CAST(date_diff('second', ts,
                      MAX(ts) OVER (PARTITION BY event_type
                                    ORDER BY arrival_seq, event_id
                                    ROWS UNBOUNDED PRECEDING)) AS BIGINT)
                     AS late_s
          FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
               AS late_frac,
           ROUND(quantile_cont(late_s, 0.5), 2) AS p50_late_s,
           ROUND(quantile_cont(late_s, 0.99), 2) AS p99_late_s,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s,
           CAST(CEIL(quantile_cont(late_s, 0.99) / 60) * 60 AS BIGINT)
               AS watermark_delay_s
    FROM l GROUP BY 1
"""


@register("events_watermark_plan", WATERMARK_PLAN_SQL)
def events_watermark_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Watermark sizing from observed lateness quantiles over a
    deterministic jittered arrival sequence (fixture events arrive in
    event-time order, so the jitter simulates network reordering;
    operators/sessions.py:watermark_delay_plan)."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").withColumn(
        "arrival_seq", F.col("event_id") + (F.col("event_id") % 13) * 40
    )
    return sessions.watermark_delay_plan(events, arrival="arrival_seq")


# DuckDB mirror of dq.value_drift_psi: same floored-epoch midpoint
# split, same per-type reference deciles (quantile_cont ==
# F.percentile), same floored shares and PSI fold.
DRIFT_PSI_SQL = """
    WITH span AS (SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS t0,
                         CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS t1
                  FROM events),
    tagged AS (SELECT event_type, value,
                      CAST(FLOOR(epoch(ts)) AS BIGINT)
                          < (t0 + (t1 - t0) / 2.0) AS is_ref
               FROM events CROSS JOIN span
               WHERE value IS NOT NULL),
    bounds AS (SELECT event_type,
                      quantile_cont(value, 0.1) AS b1,
                      quantile_cont(value, 0.2) AS b2,
                      quantile_cont(value, 0.3) AS b3,
                      quantile_cont(value, 0.4) AS b4,
                      quantile_cont(value, 0.5) AS b5,
                      quantile_cont(value, 0.6) AS b6,
                      quantile_cont(value, 0.7) AS b7,
                      quantile_cont(value, 0.8) AS b8,
                      quantile_cont(value, 0.9) AS b9
               FROM tagged WHERE is_ref GROUP BY event_type),
    binned AS (SELECT t.event_type, t.is_ref,
                      CASE WHEN b1 IS NULL THEN 0 ELSE
                      1 + CASE WHEN value > b1 THEN 1 ELSE 0 END
                        + CASE WHEN value > b2 THEN 1 ELSE 0 END
                        + CASE WHEN value > b3 THEN 1 ELSE 0 END
                        + CASE WHEN value > b4 THEN 1 ELSE 0 END
                        + CASE WHEN value > b5 THEN 1 ELSE 0 END
                        + CASE WHEN value > b6 THEN 1 ELSE 0 END
                        + CASE WHEN value > b7 THEN 1 ELSE 0 END
                        + CASE WHEN value > b8 THEN 1 ELSE 0 END
                        + CASE WHEN value > b9 THEN 1 ELSE 0 END END AS bin
               FROM tagged t LEFT JOIN bounds USING (event_type)),
    shares AS (SELECT event_type, bin,
                      SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
                      SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
               FROM binned GROUP BY 1, 2),
    terms AS (SELECT event_type, n_ref, n_cur,
                     (GREATEST(n_ref * 1.0 / GREATEST(SUM(n_ref) OVER (PARTITION BY event_type), 1), 1e-6)
                      - GREATEST(n_cur * 1.0 / GREATEST(SUM(n_cur) OVER (PARTITION BY event_type), 1), 1e-6))
                     * ln(GREATEST(n_ref * 1.0 / GREATEST(SUM(n_ref) OVER (PARTITION BY event_type), 1), 1e-6)
                          / GREATEST(n_cur * 1.0 / GREATEST(SUM(n_cur) OVER (PARTITION BY event_type), 1), 1e-6))
                         AS psi_term
              FROM shares)
    SELECT event_type,
           CAST(SUM(n_ref) AS BIGINT) AS n_ref,
           CAST(SUM(n_cur) AS BIGINT) AS n_cur,
           ROUND(SUM(psi_term), 4) AS psi,
           (SUM(psi_term) > 0.1) AS drifted
    FROM terms GROUP BY 1
"""


@register("events_drift_psi", DRIFT_PSI_SQL)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Population Stability Index drift monitor: per-type value
    distribution of the second half of the time range vs
    reference-decile bins from the first half
    (operators/dq.py:value_drift_psi)."""
    return dq.value_drift_psi(load_table(spark, sf_dir, "events"))


# DuckDB mirror of streaming.windows.attributed_purchases_full_outer
# run as a batch frame: FULL OUTER interval self-join — every purchase
# and every click reported once, matched or null-padded, user_id
# coalesced across sides.  epoch_us for NTZ-proof timestamp compare,
# ROUND(value, 4) for float parity (same conventions as the inner twin
# events_attribution_join).
ATTRIBUTION_FULL_OUTER_SQL = """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts, value
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS click_id, user_id, ts
          FROM events WHERE event_type = 'click')
    SELECT p.purchase_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           ROUND(p.value, 4) AS purchase_value,
           c.click_id,
           epoch_us(c.ts) AS click_ts_us
    FROM p FULL OUTER JOIN c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
"""


# DuckDB mirror of streaming.windows.attributed_purchases_semi: LEFT
# SEMI == EXISTS — purchases with at least one click in the horizon,
# emitted once, no click columns.
ATTRIBUTION_SEMI_SQL = """
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           ROUND(p.value, 4) AS purchase_value
    FROM events p
    WHERE p.event_type = 'purchase'
      AND EXISTS (SELECT 1 FROM events c
                  WHERE c.event_type = 'click'
                    AND c.user_id = p.user_id
                    AND c.ts <= p.ts
                    AND c.ts >= p.ts - INTERVAL 30 MINUTE)
"""


@register("events_attribution_semi", ATTRIBUTION_SEMI_SQL)
def events_attribution_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI interval self-join (purchases with >=1 preceding
    click within 30 min — existence filter, no fan-out), run as a
    batch frame through streaming.windows.attributed_purchases_semi."""
    from ..streaming import windows as streaming_windows

    df = streaming_windows.attributed_purchases_semi(
        load_table(spark, sf_dir, "events")
    )
    return df.select(
        "purchase_id",
        "user_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
    )


@register("events_attribution_full_outer", ATTRIBUTION_FULL_OUTER_SQL)
def events_attribution_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER interval self-join (purchases ⋈ preceding clicks
    within 30 min, unmatched rows of BOTH sides null-padded), run as a
    batch frame through
    streaming.windows.attributed_purchases_full_outer."""
    from ..streaming import windows as streaming_windows

    df = streaming_windows.attributed_purchases_full_outer(
        load_table(spark, sf_dir, "events")
    )
    return df.select(
        "purchase_id",
        "user_id",
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.round("purchase_value", 4).alias("purchase_value"),
        "click_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
    )


# DuckDB mirror of multimodal.shard_plan: same payload derivation
# (media_table's text->utf8 bytes, doc_id%3 modality cycle), same
# start-offset sharding window, same plan aggregate.
MEDIA_SHARD_PLAN_SQL = """
    WITH m AS (SELECT doc_id,
                      ['image', 'audio', 'video'][(doc_id % 3) + 1]
                          AS media_type,
                      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
               FROM documents),
    a AS (SELECT doc_id, media_type, n_bytes,
                 CAST(FLOOR(COALESCE(SUM(n_bytes) OVER (
                     PARTITION BY media_type ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 16384) AS BIGINT) AS shard_id
          FROM m)
    SELECT media_type, shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           MIN(doc_id) AS first_doc_id,
           MAX(doc_id) AS last_doc_id
    FROM a GROUP BY 1, 2
"""


@register("media_shard_plan", MEDIA_SHARD_PLAN_SQL)
def media_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] WebDataset-style shard planning: per-modality assets
    packed end-to-end in doc_id order, sharded by start offset
    (operators/multimodal.py:shard_plan) — the assignment step before
    a training-loader repack write."""
    from ..operators import multimodal

    return multimodal.shard_plan(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# events_session_dynamic_gap — session_window with per-event gap
# ---------------------------------------------------------------------------
_GAP_PURCHASE_US = 30 * 60 * 1_000_000


_GAP_DEFAULT_US = 10 * 60 * 1_000_000


# DuckDB mirror of Spark's dynamic-gap session merge: each event spans
# [us, us + gap(event)); a new session starts when the event's start
# is >= the running max of all PRIOR event ends (interval-union
# semantics — the same >=-closes rule the static-gap oracle of
# events_session_window pins).  The (us, event_id) tiebreak makes the
# running max deterministic; grouping is tie-order-invariant because
# a tied event always lands inside its predecessor's open interval.
SESSION_DYNAMIC_GAP_ORACLE = f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                      CASE WHEN event_type = 'purchase'
                           THEN {_GAP_PURCHASE_US}
                           ELSE {_GAP_DEFAULT_US} END AS gap_us
               FROM events),
    m AS (SELECT user_id, event_id, us, gap_us,
                 MAX(us + gap_us) OVER
                     (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prior_end
          FROM e),
    f AS (SELECT user_id, event_id, us, gap_us,
                 CASE WHEN prior_end IS NULL OR us >= prior_end
                      THEN 1 ELSE 0 END AS new_session
          FROM m),
    s AS (SELECT user_id, us, gap_us,
                 SUM(new_session) OVER
                     (PARTITION BY user_id ORDER BY us, event_id
                      ROWS UNBOUNDED PRECEDING) AS seq
          FROM f)
    SELECT user_id,
           MIN(us) AS session_start_us,
           MAX(us + gap_us) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, seq
"""


@register("events_session_dynamic_gap", SESSION_DYNAMIC_GAP_ORACLE)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``F.session_window`` with a DYNAMIC per-event gap
    (Spark 3.2+): a purchase holds the session open 30 minutes, any
    other event 10 — the engagement-weighted sessionization static
    gaps can't express.  Bounds are emitted as epoch micros
    (``unix_micros``), the host-zone-safe convention the round-11 TZ
    sweep mandated for timestamp outputs.

    Scale: identical to static session_window — one shuffle on
    user_id, then Spark's in-partition sort + interval merge
    (MergingSessions); state per open session is O(1) and the dynamic
    gap adds only a codegen CASE to the window-assign expression, so
    the streaming twin (`streaming/` watermark + session window)
    carries over unchanged."""
    events = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        events.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# events_interval_join — pure range/interval join via day binning
# ---------------------------------------------------------------------------

# The interval set is synthesized DETERMINISTICALLY onto the events
# epoch (events span 2024-01; orders span 1995-2001, so o_orderdate
# itself can't be the interval) — each qualifying order contributes
# one window [s, s + 1..5 days) anchored inside January 2024, keyed
# by arithmetic on its own order key.  No equi column links the two
# sides: the join condition is PURELY ts ∈ [s, e), which is the shape
# Spark's built-in strategies turn into a nested-loop unless rewritten.
EVENTS_INTERVAL_JOIN_ORACLE = """
    WITH iv AS (
      SELECT o_orderkey,
             TIMESTAMP '2024-01-01'
               + INTERVAL (o_orderkey % 28) DAY
               + INTERVAL (o_orderkey % 24) HOUR AS s,
             TIMESTAMP '2024-01-01'
               + INTERVAL (o_orderkey % 28) DAY
               + INTERVAL (o_orderkey % 24) HOUR
               + INTERVAL (1 + o_orderkey % 5) DAY AS e
      FROM orders WHERE o_totalprice > 480000)
    SELECT iv.o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS val_cents
    FROM iv JOIN events ev ON ev.ts >= iv.s AND ev.ts < iv.e
    GROUP BY iv.o_orderkey
"""


@register("events_interval_join", EVENTS_INTERVAL_JOIN_ORACLE)
def events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Pure RANGE interval join — count and value-sum the events
    falling inside each of ~600 deterministic time windows, with NO
    equi-join key — executed as a BINNED EQUI-JOIN: every interval is
    exploded to the calendar days it overlaps (≤ 6 bins at the 1–5 day
    window lengths here), every event carries its own day, and the
    join is hash-equality on the day bin with the exact [s, e) range
    predicate evaluated inside the join.  Each event lives in exactly
    ONE bin, so every (interval, event) match is produced exactly once
    — no post-join dedup.  This is the standard rewrite for the range
    joins open-source Spark has no native strategy for (the
    RANGE_JOIN bin hint is a Databricks extension, not OSS — so the
    bins are built manually from the same idea): without it Catalyst
    plans BroadcastNestedLoopJoin, O(|iv|·|events|) comparisons.

    Scale: bin fan-out costs |iv| · days-per-interval rows — choose
    the bin width ~ the median interval length so replication stays
    O(1) per interval (hour bins for hour-scale windows, day bins
    here).  The binned join is a plain equi shuffle/broadcast join:
    at 100 TB the events side shuffles by day-bin — calendar skew
    (one hot day) is visible to AQE's skew-join split because the
    bin IS the shuffle key, or salt the bin with ts-hour.  The
    oracle runs the naive theta join (DuckDB IEJoin), so the compare
    proves the rewrite's exactness, not just plausibility."""
    from ..operators.intervals import interval_join

    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    base = F.to_timestamp(F.lit("2024-01-01"))
    iv = (
        orders.filter(F.col("o_totalprice") > 480000)
        .select(
            "o_orderkey",
            (
                base
                + F.make_interval(
                    days=(F.col("o_orderkey") % 28).cast("int"),
                    hours=(F.col("o_orderkey") % 24).cast("int"),
                )
            ).alias("s"),
        )
        .withColumn(
            "e",
            F.col("s")
            + F.make_interval(days=(F.lit(1) + F.col("o_orderkey") % 5).cast("int")),
        )
    )
    ev = events.select(
        "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    joined = interval_join(iv, ev, bin_width="day")
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("val_cents"),
    )


# ---------------------------------------------------------------------------
# events_overlap_join — interval × interval OVERLAP via binning
# ---------------------------------------------------------------------------

# Left side: maintenance windows synthesized deterministically from
# order-key arithmetic onto the events epoch — the SAME construction
# events_interval_join uses (above), so the two range-join
# queries stress the same fixture family.  Right side: per-(user, day)
# activity spans [min(ts), max(ts) + 1 minute) derived from events —
# real data-driven intervals, not synthesized ones, so the overlap
# semantics face ragged span lengths and midnight-crossing ends.
EVENTS_OVERLAP_JOIN_ORACLE = """
    WITH mw AS (
      SELECT o_orderkey,
             TIMESTAMP '2024-01-01'
               + INTERVAL (o_orderkey % 28) DAY
               + INTERVAL (o_orderkey % 24) HOUR AS s2,
             TIMESTAMP '2024-01-01'
               + INTERVAL (o_orderkey % 28) DAY
               + INTERVAL (o_orderkey % 24) HOUR
               + INTERVAL (1 + o_orderkey % 5) DAY AS e2
      FROM orders WHERE o_totalprice > 480000),
    act AS (
      SELECT user_id,
             MIN(ts) AS s1,
             MAX(ts) + INTERVAL 1 MINUTE AS e1
      FROM events GROUP BY user_id, CAST(ts AS DATE))
    SELECT mw.o_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_conflicts,
           CAST(COUNT(DISTINCT act.user_id) AS BIGINT) AS n_users
    FROM mw JOIN act ON act.s1 < mw.e2 AND mw.s2 < act.e1
    GROUP BY mw.o_orderkey
"""


@register("events_overlap_join", EVENTS_OVERLAP_JOIN_ORACLE)
def events_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Interval×interval OVERLAP join — for each of ~600
    deterministic maintenance windows, count the per-(user, day)
    activity spans that conflict with it (half-open overlap
    ``s1 < e2 AND s2 < e1``) and the distinct users affected, with NO
    equi-join key — executed as a BINNED EQUI-JOIN with the
    "reference point" exactly-once dedup
    (``operators/intervals.py:overlap_join``): both interval sets
    explode to the calendar-day bins they touch, the join is hash
    equality on the bin, the exact overlap predicate is evaluated
    inside the join, and each matching pair is kept only in its first
    shared bin (``__bin == greatest(bin(s1), bin(s2))``) — so no
    post-join distinct and no pair identity requirement.  The
    point-in-interval join (``events_interval_join``) is the
    degenerate instance of this with zero-length right intervals.

    Scale: fan-out is O(interval_len / bin_width) per interval per
    side — ≤6 bins for the 1–5-day windows, ≤2 for the sub-day
    activity spans.  The binned join is a plain bin-keyed shuffle
    join; a hot calendar day is visible to AQE's skew split because
    the bin IS the shuffle key (skew-probed in SCALE.md round 14).
    The oracle runs the naive theta join (DuckDB IEJoin), so the
    compare proves the rewrite produces EXACTLY the theta-join pairs
    — the exactly-once property, not just plausibility."""
    from ..operators.intervals import overlap_join

    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    base = F.to_timestamp(F.lit("2024-01-01"))
    mw = (
        orders.filter(F.col("o_totalprice") > 480000)
        .select(
            "o_orderkey",
            (
                base
                + F.make_interval(
                    days=(F.col("o_orderkey") % 28).cast("int"),
                    hours=(F.col("o_orderkey") % 24).cast("int"),
                )
            ).alias("s2"),
        )
        .withColumn(
            "e2",
            F.col("s2")
            + F.make_interval(
                days=(F.lit(1) + F.col("o_orderkey") % 5).cast("int")
            ),
        )
    )
    act = (
        events.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(
            F.min("ts").alias("s1"),
            (
                F.max("ts") + F.make_interval(mins=F.lit(1).cast("int"))
            ).alias("e1"),
        )
        .drop("d")
    )
    joined = overlap_join(
        mw, act,
        left_start="s2", left_end="e2",
        right_start="s1", right_end="e1",
        bin_width="day",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_conflicts"),
        F.countDistinct("user_id").alias("n_users"),
    )
