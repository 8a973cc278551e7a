"""Round-13 additions (2): the two open seams named by the round-12
verdict (#7) — a pure RANGE interval join (no equi key) executed as a
binned equi-join, and a VARIANT ingest gate over ragged JSON with its
streaming twin (``streaming/variant_ingest.py``).

In-repo oracle parity: ``tests/test_round13.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._base import register


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
# scalar_variant_ingest — VARIANT ingest gate over ragged JSON
# ---------------------------------------------------------------------------

# The ragged raw column is synthesized from typed columns with the
# SAME expression text on both engines (user_id % 4 picks the shape):
# a flat object, a nested object, an array, and a MALFORMED fragment
# — so the oracle verifies the whole parse from raw values, per the
# scalar_xml_orders convention.  All extracted values are exact ints.
# ALL FOUR branches synthesize deterministically from typed columns
# (ADVICE r13): the original case-0 passed the raw ``props`` string
# through both engines' parsers, making parity data-dependent on the
# generator never emitting shapes where Spark VARIANT and DuckDB JSON
# disagree (duplicate object keys are malformed to try_parse_json but
# valid to json_valid; quoted numeric strings cast differently).  A
# synthesized flat object is shape-closed — parity holds for ANY
# events file, not just the driver's generator.
_RAGGED_RAW_SPARK = """
    CASE CAST(user_id % 4 AS INT)
      WHEN 0 THEN concat('{"k": ', CAST(event_id % 97 AS STRING), '}')
      WHEN 1 THEN concat('{"a": {"b": ', CAST(event_id % 100 AS STRING), '}}')
      WHEN 2 THEN concat('[', CAST(event_id % 7 AS STRING), ', ',
                         CAST(event_id % 11 AS STRING), ']')
      ELSE concat('{"broken": ', event_type)
    END
"""

_RAGGED_RAW_DUCK = _RAGGED_RAW_SPARK.replace("AS STRING", "AS VARCHAR")

SCALAR_VARIANT_INGEST_ORACLE = f"""
    WITH src AS (SELECT event_type, ({_RAGGED_RAW_DUCK}) AS raw FROM events),
    p AS (SELECT event_type,
                 CASE WHEN json_valid(raw) THEN raw END AS v
          FROM src)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(count_if(v IS NULL) AS BIGINT) AS n_malformed,
           CAST(count_if(TRY_CAST(json_extract(v, '$.k') AS BIGINT)
                IS NOT NULL) AS BIGINT) AS n_flat,
           CAST(count_if(TRY_CAST(json_extract(v, '$.a.b') AS BIGINT)
                IS NOT NULL) AS BIGINT) AS n_nested,
           CAST(count_if(TRY_CAST(json_extract(v, '$[1]') AS BIGINT)
                IS NOT NULL) AS BIGINT) AS n_arr,
           CAST(SUM(COALESCE(TRY_CAST(json_extract(v, '$.k') AS BIGINT), 0)
                  + COALESCE(TRY_CAST(json_extract(v, '$.a.b') AS BIGINT), 0)
                  + COALESCE(TRY_CAST(json_extract(v, '$[1]') AS BIGINT), 0))
                AS BIGINT) AS sum_vals
    FROM p GROUP BY event_type
"""


def variant_profile_frame(df: DataFrame) -> DataFrame:
    """The shared VARIANT ingest profile over a frame carrying
    (event_id, user_id, event_type): ragged-JSON synthesis →
    try_parse_json → per-path try_variant_get coverage counts + exact
    value sum, grouped by event_type.  Used by the batch query below
    AND per micro-batch by ``streaming/variant_ingest.py`` — the
    profile columns are all mergeable (counts / sums), which is what
    makes the streaming twin's per-batch partials sum to the batch
    answer exactly."""
    raw = F.expr(_RAGGED_RAW_SPARK)
    parsed = df.select("event_type", F.try_parse_json(raw).alias("v"))
    get = lambda path: F.try_variant_get(F.col("v"), path, "long")  # noqa: E731
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("v").isNull()).alias("n_malformed"),
        F.count_if(get("$.k").isNotNull()).alias("n_flat"),
        F.count_if(get("$.a.b").isNotNull()).alias("n_nested"),
        F.count_if(get("$[1]").isNotNull()).alias("n_arr"),
        F.sum(
            F.coalesce(get("$.k"), F.lit(0))
            + F.coalesce(get("$.a.b"), F.lit(0))
            + F.coalesce(get("$[1]"), F.lit(0))
        ).alias("sum_vals"),
    )


@register("scalar_variant_ingest", SCALAR_VARIANT_INGEST_ORACLE)
def scalar_variant_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] VARIANT ingest gate: ragged JSON (flat / nested / array /
    malformed shapes) parsed with ``try_parse_json`` into a VARIANT
    column, then profiled in ONE aggregation pass — malformed count,
    per-path extraction coverage via ``try_variant_get`` on a flat
    key, a nested path, and an array index, and the exact integer sum
    of every extractable value.  This is the schema-on-read admission
    report a semi-structured feed needs before VARIANT columns are
    committed to a table: it quantifies how much of the feed each
    consumer path will actually see, without a single row-level error
    (both the parse and the gets are try_ variants).

    The streaming twin (``streaming/variant_ingest.py``) runs the
    identical profile per micro-batch with idempotent per-batch
    output — stream≡batch asserted in tests/test_round13.py.

    Scale: parse + gets are per-row JVM expressions inside the scan's
    codegen stage (VARIANT parse is single-pass, gets are O(1) on the
    binary encoding — no JSON re-parse per path); the aggregate is a
    5-key hash, partial → final.  Zero Python, zero shuffle keyed by
    data volume."""
    return variant_profile_frame(load_table(spark, sf_dir, "events"))
