"""[EXT] Structured Streaming: event-time windows with watermarks.

The reference's only 'streaming' is a cron full-refresh
(``/root/reference/handler.go:56-66`` — each run re-reads the whole
snapshot, so late data is moot there).  These are the real streaming
extensions over the ``events`` table: file-source micro-batches,
event-time tumbling windows, watermark-based late-data handling.

The batch twins in ``functions.scalars`` use the *same* ``F.window``
expression — Structured Streaming's incrementalization is what
changes, not the query — which is exactly how the 100 TB deployment
runs: one definition, executed either as a scheduled batch
(``Trigger.AvailableNow``) or a continuous micro-batch stream.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# events.parquet schema with ts as int64 nanos (see sources.tables:
# Spark cannot read TIMESTAMP(NANOS) directly, so streams read the
# raw long and convert with exact integer division).
EVENTS_RAW_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# Fixture variant: ts written as Parquet TIMESTAMP(MICROS) without tz
# (Spark reads it as TIMESTAMP_NTZ).
EVENTS_NTZ_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _ts_is_micros(events_dir: str) -> bool:
    """Sniff one parquet footer under ``events_dir`` (which may contain
    glob characters) to decide whether ``ts`` is TIMESTAMP(MICROS)
    (→ NTZ schema + cast) or raw int64 nanos (→ long schema + div).

    File-source streams need a fixed schema up front, but the fixture's
    physical ts type has changed across driver revisions (NANOS →
    tz-naive MICROS), so the reader adapts per-directory instead of
    hard-coding one.  Footer-only read: no data pages touched.

    Only tz-NAIVE micros qualify for the NTZ schema: a tz-aware
    ``timestamp[us, tz=...]`` column carries instant semantics, and
    forcing TIMESTAMP_NTZ onto it would shift or misread the values —
    those fall through to the long-schema path (and fail loudly there
    rather than silently relabeling).  For glob inputs like
    ``dir/part-*`` the walk base is the original prefix's DIRECTORY
    (``dir/``), not the non-directory prefix ``dir/part-`` itself,
    which os.walk would silently yield nothing for.
    """
    prefix = events_dir.split("*")[0]
    base = prefix if os.path.isdir(prefix) else (os.path.dirname(prefix) or ".")
    for root, _dirs, fnames in os.walk(base):
        for fn in sorted(fnames):
            if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                try:
                    import pyarrow.parquet as pq
                    import pyarrow as pa

                    field = pq.read_schema(os.path.join(root, fn)).field("ts")
                    return (
                        isinstance(field.type, pa.TimestampType)
                        and field.type.unit == "us"
                        and field.type.tz is None
                    )
                except Exception:
                    return False
    return False


def read_event_stream(
    spark: SparkSession, events_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events, normalized to ts TIMESTAMP (LTZ).

    Handles both fixture encodings: int64-nanos columns get the exact
    ns→µs integer division; TIMESTAMP(MICROS)-naive columns are read as
    NTZ and relabeled LTZ (session tz is pinned UTC, so the relabel is
    deterministic and preserves wall-clock micros).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if _ts_is_micros(events_dir):
        reader = spark.readStream.schema(EVENTS_NTZ_SCHEMA)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        raw = reader.parquet(events_dir)
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    reader = spark.readStream.schema(EVENTS_RAW_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(events_dir)
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def windowed_counts(
    events: DataFrame, minutes: int = 10, watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling window counts with a watermark: state for windows older
    than the watermark is dropped (bounded state at unbounded input —
    the property that lets this run forever on a real cluster)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


def windowed_user_sketch(
    events: DataFrame, minutes: int = 60, watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming distinct-users-per-window via the HLL++ sketch —
    the state-feasible form of the metric: exact distinct would hold
    O(users) state per open window, the sketch holds a KB-sized
    mergeable buffer, and the watermark bounds how many windows stay
    open.  The batch twin (``functions.scalars.windowed_distinct_users``)
    carries the exact column alongside the same sketch expression, so
    stream ≡ batch is assertable on the sketch output."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{minutes} minutes").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_users"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "approx_users",
        )
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def configure_state_store(spark: SparkSession, provider: str = "rocksdb") -> None:
    """Select the state-store backend for streaming queries STARTED
    AFTER this call (the provider is captured per-query at start and
    pinned into its checkpoint — restarting an existing checkpoint
    with a different provider is an error Spark itself rejects).

    The default HDFSBackedStateStoreProvider keeps every store's full
    key→value map ON-HEAP per executor — fine for fixture-sized state,
    but the 100 TB deployment's dedup/session state (billions of keys)
    must spill: ``rocksdb`` switches to the bundled RocksDB provider
    (native memory + local SSD, changelog-checkpointed to the query's
    checkpoint location), which bounds heap usage regardless of key
    cardinality.  ``hdfs`` switches back (e.g. for tiny always-on
    metrics where JVM-heap lookups are cheaper than JNI).
    """
    providers = {"rocksdb": ROCKSDB_PROVIDER, "hdfs": _HDFS_PROVIDER}
    try:
        cls = providers[provider]
    except KeyError:
        raise ValueError(
            f"unknown state-store provider {provider!r}; use 'rocksdb' or 'hdfs'"
        ) from None
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)


def run_to_memory(
    streaming_df: DataFrame,
    *,
    output_mode: str = "complete",
    query_name: str | None = None,
    timeout_sec: float = 120.0,
    state_store: str | None = None,
) -> DataFrame:
    """Execute a streaming DF with Trigger.AvailableNow into a memory
    sink, block until drained, and return the sink table.

    ``timeout_sec`` is a liveness guard: AvailableNow must drain and
    stop; a query still running after the deadline (e.g. a stateful op
    spinning no-data batches on processing-time timeouts) is stopped
    and reported instead of hanging the caller forever.

    ``state_store`` ('rocksdb' | 'hdfs') selects the state backend for
    THIS query via :func:`configure_state_store`; None keeps the
    session's current setting.
    """
    if state_store is not None:
        configure_state_store(streaming_df.sparkSession, state_store)
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    checkpoint = os.path.join(tempfile.gettempdir(), f"ckpt_{name}")
    q = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {name} did not drain within {timeout_sec}s "
            "under Trigger.AvailableNow"
        )
    return streaming_df.sparkSession.table(name)


def attributed_purchases(
    events: DataFrame, *, horizon_minutes: int = 30, watermark: str = "60 minutes"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding ``horizon_minutes``.

    This is the canonical bounded-state stream-stream join config:
    an equi-key (``user_id``), watermarks on BOTH sides, and a range
    constraint tying the two event times together.  The range bound is
    what lets Spark evict join state — click state older than
    ``watermark + horizon`` can never match a future purchase and is
    dropped, so state stays bounded at unbounded input.  Without the
    time constraint the join would have to keep every click forever.

    Works identically on batch frames (the interval join just runs as
    a join) — the test asserts stream ≡ batch on the same input.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
        "inner",
    ).select(
        "purchase_id", "user_id", "purchase_ts", "purchase_value", "click_id", "click_ts"
    )


def attributed_purchases_outer(
    events: DataFrame, *, horizon_minutes: int = 30, watermark: str = "60 minutes"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every purchase emits —
    matched ones with their click, UNMATCHED ones with NULL click
    columns — the attribution shape that also reports organic
    purchases.

    The outer side is what makes this a distinct state-machine from
    :func:`attributed_purchases`: an unmatched purchase cannot emit
    when it arrives (a matching click may still come), so it sits in
    state until the CLICK-side watermark passes its join window; the
    null-padded row emits at state EVICTION time.  Two consequences a
    consumer must plan for, both inherent to outer stream joins (not
    engine quirks):

    * **Tail holdback** — purchases within ``watermark + horizon`` of
      the stream's high-water mark have open join windows and emit
      only after LATER input advances the watermark.  The query's
      watermark is the MIN over both ``withWatermark`` nodes, and each
      node advances only on rows reaching ITS side of the plan — so
      flushing needs later events on BOTH branches (a later click
      alone leaves the purchase-side watermark, and therefore the
      global one, parked).  A drained AvailableNow run withholds the
      final horizon; the test drives a second batch carrying both a
      future click and a future purchase to flush it, and only then
      equals batch.
    * **Finalization lag** — matched rows emit promptly; null-padded
      rows are always one horizon late by construction.

    State stays bounded exactly as the inner form: the range bound
    lets both sides evict anything older than ``watermark + horizon``.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        ),
        "leftOuter",
    ).select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def with_ingest_observation(events: DataFrame) -> DataFrame:
    """Attach ``observe`` metrics to a (streaming or batch) event
    frame: row count, null-key count, and value sum — the zero-extra-
    pass production monitoring surface.  On a stream the metrics
    surface per micro-batch in ``StreamingQueryProgress.
    observedMetrics['ingest']`` and through any registered
    ``StreamingQueryListener`` — the alerting path that needs no
    second aggregation job over the input (same motivation as the
    refresher's in-flight quality gate, operators/core.py:
    disk_usage_observed, which covers the BATCH Observation API).
    """
    return events.observe(
        "ingest",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id").isNull().cast("long")).alias("null_users"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


def _attribution_sides(
    events: DataFrame, watermark: str
) -> tuple[DataFrame, DataFrame]:
    """The shared click/purchase split + watermarks of the attribution
    join matrix (inner / leftOuter / rightOuter / fullOuter /
    leftSemi — every stream-stream join type Spark supports)."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases, clicks


def _attribution_cond(horizon_minutes: int):
    return (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon_minutes} MINUTES")
        )
    )


def attributed_purchases_semi(
    events: DataFrame, *, horizon_minutes: int = 30, watermark: str = "60 minutes"
) -> DataFrame:
    """LEFT SEMI stream-stream interval join: purchases that had at
    least one click in the preceding horizon — existence filtering
    without duplicating the purchase per matching click (the inner
    join's fan-out) and without shipping any click columns.

    Semi is the cheapest cell of the join matrix at scale: the click
    side contributes only its key+timestamp to state, each purchase
    emits AT MOST once, and output volume is bounded by the purchase
    stream regardless of click density — the right shape for "only
    attributed purchases" pipelines that do not need which click.
    Emission is prompt on match (no eviction wait); state bounds are
    the inner join's.
    """
    purchases, clicks = _attribution_sides(events, watermark)
    return purchases.join(
        clicks, _attribution_cond(horizon_minutes), "leftSemi"
    ).select("purchase_id", "user_id", "purchase_ts", "purchase_value")


def attributed_clicks_right_outer(
    events: DataFrame, *, horizon_minutes: int = 30, watermark: str = "60 minutes"
) -> DataFrame:
    """RIGHT OUTER stream-stream interval join: every click emits —
    matched ones with their purchase, never-converted ones null-padded
    at click-state eviction — the click-funnel mirror of
    :func:`attributed_purchases_outer` (same state machine with the
    outer direction flipped to the build side)."""
    purchases, clicks = _attribution_sides(events, watermark)
    return purchases.join(
        clicks, _attribution_cond(horizon_minutes), "rightOuter"
    ).select(
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("c_user")).alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def attributed_purchases_full_outer(
    events: DataFrame, *, horizon_minutes: int = 30, watermark: str = "60 minutes"
) -> DataFrame:
    """FULL OUTER stream-stream interval join — the last cell of the
    join matrix next to :func:`attributed_purchases` (inner) and
    :func:`attributed_purchases_outer` (left): every purchase AND
    every click emits exactly once as matched or null-padded, the
    attribution shape that also reports clicks which never converted.

    The state machine adds the click-side eviction emit to the left
    join's purchase-side one: a click that attached to no purchase
    sits in state until the watermark passes ``click_ts + horizon``
    (no future purchase's look-back window can reach it), then emits
    with NULL purchase columns.  Both outer directions therefore share
    the left join's two consumer-visible consequences — tail holdback
    (rows within ``watermark + horizon`` of the high-water mark flush
    only after later input on BOTH branches advances the min-of-sides
    query watermark) and finalization lag (null-padded rows are one
    horizon late by construction).  State stays bounded exactly as the
    inner form: the range bound lets both sides evict anything older
    than ``watermark + horizon``.

    ``user_id`` is coalesced across the two sides so unmatched rows of
    either direction still carry their key.
    """
    purchases, clicks = _attribution_sides(events, watermark)
    return purchases.join(
        clicks, _attribution_cond(horizon_minutes), "fullOuter"
    ).select(
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("c_user")).alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def deduplicated_stream(
    events: DataFrame,
    key: str | list[str] = "event_id",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeats of ``key`` arriving within
    the watermark horizon (``dropDuplicatesWithinWatermark``) — the
    streaming twin of the batch content-hash dedup.  State holds one
    entry per distinct key seen inside the horizon and is evicted as
    the watermark advances, so memory is bounded at unbounded input —
    exactly how an always-on ingest pipeline suppresses redelivered
    documents before they reach training storage.

    With a composite key like ``["user_id", "event_type"]`` this is the
    streaming form of first-touch dedup: under in-order arrival the
    first-arrived row per key IS the event-time winner, so the emitted
    keys (and rows) match ``operators.sessions.first_touch`` — asserted
    in ``tests/test_streaming.py``.  Under out-of-order arrival the
    batch twin remains the authority (it re-sorts); the streaming form
    trades that for bounded state, like every watermark operator."""
    keys = [key] if isinstance(key, str) else list(key)
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def topk_over_counts_sink(sink_df: DataFrame, k: int = 3) -> DataFrame:
    """Per-window heavy hitters OVER THE STREAMED COUNTS SINK — the
    streaming twin of the batch windowed top-k: ranking is not an
    incremental-safe aggregate (a rank can demote on any late row),
    so the production pattern keeps the STREAM as additive counts
    (watermark-bounded state) and ranks in the serving layer over the
    sink — a |windows|×|event_types|-bounded table, trivially cheap.
    Output matches functions.scalars.windowed_top_event_types when
    the stream has drained (asserted in tests).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        sink_df.select(
            "window_start",
            "event_type",
            F.col("event_count").alias("n"),
        )
        .select("*", F.row_number().over(w).alias("type_rank"))
        .filter(F.col("type_rank") <= k)
    )


def anomaly_over_counts_sink(
    sink_df: DataFrame,
    trailing: int = 7,
    min_prior: int = 3,
    z_thresh: float = 2.0,
) -> DataFrame:
    """Streaming anomaly detection via the rank-in-sink split: the
    STREAM maintains additive 1-day windowed counts (watermark-bounded
    state, incremental-safe); this serving-layer pass scores the
    days×types-bounded sink with the trailing z-score — which is NOT
    incremental-safe (any late row shifts every later day's baseline),
    exactly like ranking in :func:`topk_over_counts_sink`.  Equals the
    batch ``events_anomaly_zscore`` once the stream drains (asserted
    in tests).  Feed with ``windowed_counts(stream, minutes=1440)``.
    """
    from go_mailio_diskusage_handler_spark.operators.sessions import (
        score_daily_counts,
    )

    daily = sink_df.select(
        F.to_date(F.timestamp_seconds("window_start")).alias("day"),
        "event_type",
        F.col("event_count").alias("n_events"),
    )
    return score_daily_counts(
        daily, trailing=trailing, min_prior=min_prior, z_thresh=z_thresh
    )


def user_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming per-user event counts — the additive (incremental-
    safe) half of the activity-concentration report: a global
    groupBy(user) count whose state is one long per user (the USER
    dimension, not event volume; RocksDB holds billions of such keys).
    Run in complete/update mode into a sink, then rank serving-side
    with :func:`concentration_over_totals_sink`.
    """
    return (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def concentration_over_totals_sink(sink_df: DataFrame) -> DataFrame:
    """Activity-decile Pareto shares over the streamed per-user count
    sink — NTILE re-ranks on any update, so like
    :func:`topk_over_counts_sink` and :func:`anomaly_over_counts_sink`
    the non-incremental ranking stays in the serving layer.  Equals
    the batch ``events_concentration`` once the stream drains
    (asserted in tests).
    """
    from go_mailio_diskusage_handler_spark.operators.sessions import (
        concentration_report,
    )

    return concentration_report(sink_df.select("user_id", "n_events"))


def daily_theta_sketches(
    events: DataFrame, watermark: str = "2 days"
) -> DataFrame:
    """Streaming per-day Theta user-sketch PARTIALS — the write half
    of the sketch store :func:`...functions.scalars.theta_retained_users`
    reads: each micro-batch folds its users into the open day's
    sketch, the watermark closes days and bounds state to the few
    still-open day buffers (KB-scale blobs, never per-user rows).
    The sink accumulates one mergeable blob per day; retention /
    new-user questions are then SET OPERATIONS over stored blobs
    (:func:`retention_over_sketch_sink`), no event rescans.
    """
    return (
        events.filter(F.col("user_id").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )


def retention_over_sketch_sink(sink_df: DataFrame) -> DataFrame:
    """Day-over-day retained / new distinct-user estimates computed
    purely from the accumulated sketch sink — the rank-in-sink
    pattern applied to SET sketches: intersection/difference are not
    incremental-safe aggregates, so they stay in the serving layer
    over the day-keyed blobs (day count is driver-scale; the single-
    partition LAG is over tens of rows of KB blobs).

    Below the theta sampling threshold (k=4096) sketches are exact
    sets of key hashes — order- and batch-boundary-independent — so
    at fixture cardinality the estimates EQUAL the batch operator's
    exact counts (asserted stream ≡ batch in tests).
    """
    from pyspark.sql import Window

    w = Window.orderBy("d")
    pairs = sink_df.select(
        "d",
        "sk",
        F.lag("sk").over(w).alias("prev_sk"),
    ).filter(F.col("prev_sk").isNotNull())
    return pairs.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(
            F.theta_sketch_estimate(F.theta_intersection("prev_sk", "sk"))
        ).cast("bigint").alias("est_retained"),
        F.round(
            F.theta_sketch_estimate(F.theta_difference("sk", "prev_sk"))
        ).cast("bigint").alias("est_new"),
    )


def daily_value_sketches(
    events: DataFrame, watermark: str = "2 days"
) -> DataFrame:
    """Streaming per-day KLL quantile-sketch PARTIALS over ``value``
    — the quantile sibling of :func:`daily_theta_sketches` and the
    write half of the store
    :func:`...functions.scalars.mergeable_value_quantiles` reads in
    batch.  State per open day is one bounded KLL buffer (k=200 ⇒
    ~KBs) regardless of event volume; the watermark closes days.
    """
    return (
        events.filter(F.col("value").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(F.kll_sketch_agg_double("value").alias("sk"))
    )


def quantiles_over_sketch_sink(sink_df: DataFrame) -> DataFrame:
    """Any-date-range quantiles answered purely from the accumulated
    daily KLL blobs: merge (``kll_merge_agg_double``) then probe —
    one row of (n, q50, q90, q99) without rescanning events.  KLL
    merge is associative, so this serves mid-stream snapshots as
    correctly as the drained sink; estimates carry the sketch's
    normalized rank-error guarantee (well under 2% at k=200), which
    is what the stream≡batch test asserts (sketch compaction is
    randomized, so value-equality across independently-built sketches
    is NOT guaranteed — rank tolerance is the honest contract).
    """
    merged = sink_df.groupBy().agg(F.kll_merge_agg_double("sk").alias("mk"))
    return merged.select(
        F.kll_sketch_get_n_double("mk").cast("bigint").alias("n_values"),
        *[
            F.kll_sketch_get_quantile_double("mk", F.lit(p)).alias(f"q{t}")
            for p, t in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
        ],
    )


def binned_psi_counts(
    events: DataFrame,
    bounds: DataFrame,
    split_epoch: float,
) -> DataFrame:
    """Streaming value-distribution counts for the PSI drift monitor:
    additive (event_type, is_ref, bin) counts over a FROZEN reference
    decile table and a frozen reference/current split point.

    The split of responsibilities is the rank-in-sink family's
    (``topk_over_counts_sink``): the STREAM maintains only additive
    counts — state bounded at types x 2 x PSI_BINS rows no matter how
    long it runs — while the PSI fold (NOT incremental-safe: one late
    row shifts every bin's share) happens at serve time over the
    dimension-sized sink (:func:`psi_over_binned_sink`).  ``bounds``
    and ``split_epoch`` come from a calibration batch
    (``dq.reference_decile_bounds``) — freezing them is what makes the
    streaming counts additive at all.

    Deliberately NO ``withWatermark``: the aggregation keys are
    (event_type, is_ref, bin) with no event-time column, so a
    watermark would neither bound state (already bounded at
    types x 2 x bins) nor evict anything — every late row must still
    land in its bin for the serve-time fold to equal the batch
    monitor.  Update/complete output mode is the contract (ADVICE r8:
    an inert watermark here implied late-data semantics the query
    does not have).
    """
    from go_mailio_diskusage_handler_spark.operators.dq import assign_psi_bins

    tagged = events.where(
        F.col("value").isNotNull()  # same NULL policy as the batch monitor
    ).select(
        "event_type",
        "value",
        (F.unix_timestamp("ts") < F.lit(split_epoch)).alias("is_ref"),
    )
    return assign_psi_bins(tagged, bounds).groupBy(
        "event_type", "is_ref", "bin"
    ).agg(F.count(F.lit(1)).alias("n"))


def psi_over_binned_sink(sink_df: DataFrame) -> DataFrame:
    """Serve-time PSI over the streamed (type, is_ref, bin) counts sink
    — equals the batch ``dq.value_drift_psi`` exactly once the stream
    drains (same bounds, same split, same fold; asserted in tests)."""
    from go_mailio_diskusage_handler_spark.operators.dq import (
        psi_from_bin_counts,
    )

    counts = sink_df.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), F.col("n")).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(F.col("n"))).alias("n_cur"),
    )
    return psi_from_bin_counts(counts)


def dynamic_session_counts(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Dynamic-gap session windows as an always-on stream — the
    streaming twin of the batch query ``events_session_dynamic_gap``
    (queries/q_sessions.py): a purchase holds its session open 30
    minutes, any other event 10, via ``F.session_window`` with a
    per-event gap expression.

    Stream semantics: the watermark bounds session state — a session
    closes (and emits, in Append mode) once the watermark passes its
    end, so state stays O(open sessions) at unbounded input.  The gap
    CASE is a codegen expression inside the window-assign, identical
    to the batch plan; stream≡batch is asserted in
    ``tests/test_streaming.py`` (same fixture, same output rows).

    Bounds are emitted as epoch micros (``unix_micros``), the
    host-zone-safe convention the round-11 TZ sweep mandated."""
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
