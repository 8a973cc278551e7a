"""Event-time attribution joins over the ``events`` table.

Three cells of the click -> purchase interval-join matrix: inner
(:func:`attributed_purchases`), left semi
(:func:`attributed_purchases_semi`) and full outer
(:func:`attributed_purchases_full_outer`).  The ``events_attribution_*``
queries run them as batch joins; each side carries the watermark that
would bound the join state if the same plan ran over a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

HORIZON_MINUTES = 30  # a click attributes purchases this long after it
WATERMARK = "60 minutes"


def attributed_purchases(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding ``HORIZON_MINUTES``.

    This is the canonical bounded-state stream-stream join config:
    an equi-key (``user_id``), watermarks on BOTH sides, and a range
    constraint tying the two event times together.  The range bound is
    what lets Spark evict join state — click state older than
    ``WATERMARK + HORIZON_MINUTES`` can never match a future purchase and is
    dropped, so state stays bounded at unbounded input.  Without the
    time constraint the join would have to keep every click forever.

    On a batch frame the watermarks are no-ops and the interval join
    runs as a plain join; DuckDB-oracle parity pins that result.
    """
    purchases, clicks = _attribution_sides(events)
    return purchases.join(
        clicks, _attribution_cond(), "inner"
    ).select(
        "purchase_id", "user_id", "purchase_ts", "purchase_value", "click_id", "click_ts"
    )


def _attribution_sides(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shared click/purchase split + watermarks of the three
    attribution joins."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return purchases, clicks


def _attribution_cond():
    return (
        (F.col("user_id") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr(f"INTERVAL {HORIZON_MINUTES} MINUTES")
        )
    )


def attributed_purchases_semi(events: DataFrame) -> DataFrame:
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
    purchases, clicks = _attribution_sides(events)
    return purchases.join(
        clicks, _attribution_cond(), "leftSemi"
    ).select("purchase_id", "user_id", "purchase_ts", "purchase_value")


def attributed_purchases_full_outer(events: DataFrame) -> DataFrame:
    """FULL OUTER stream-stream interval join — the cell of the join
    matrix next to :func:`attributed_purchases` (inner): every purchase
    AND every click emits exactly once as matched or null-padded, the
    attribution shape that also reports clicks which never converted.

    Over a stream, an unmatched row of either side sits in state until
    the watermark passes its event time plus the horizon (no future
    row of the other side can reach it), then emits null-padded.  State
    stays bounded exactly as the inner form: the range bound lets both
    sides evict anything older than ``WATERMARK + HORIZON_MINUTES``.

    ``user_id`` is coalesced across the two sides so unmatched rows of
    either direction still carry their key.
    """
    purchases, clicks = _attribution_sides(events)
    return purchases.join(
        clicks, _attribution_cond(), "fullOuter"
    ).select(
        "purchase_id",
        F.coalesce(F.col("user_id"), F.col("c_user")).alias("user_id"),
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )
