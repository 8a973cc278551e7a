"""Round-14 additions (2): the two open seams named by the round-13
verdict (#3, #7) — the interval×interval OVERLAP join (the other half
of range-join capability; the point-in-interval join of round 13 is
its degenerate instance), and the VARIANT shredded-write/read-back
round trip (the storage half of the round-13 ingest gate).

In-repo oracle parity: ``tests/test_round14.py``.
"""
from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ._base import register


# ---------------------------------------------------------------------------
# events_overlap_join — interval × interval OVERLAP via binning
# ---------------------------------------------------------------------------

# Left side: maintenance windows synthesized deterministically from
# order-key arithmetic onto the events epoch — the SAME construction
# events_interval_join uses (q_round13.py), so the two range-join
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


# ---------------------------------------------------------------------------
# scalar_variant_roundtrip — VARIANT storage round trip
# ---------------------------------------------------------------------------

# Post-round-trip the shape is classified FROM THE VARIANT ITSELF
# (which path extracts), not from the synthesis arithmetic — so a
# lossy store would misclassify rows and break parity.  The oracle
# classifies the same deterministic synthesis with JSON paths; it
# never sees the parquet (neither DuckDB nor pyarrow can read Spark's
# Variant logical type yet), and it doesn't need to: the synthesis is
# shape-closed, so parity holds iff the store+load leg is lossless.
SCALAR_VARIANT_ROUNDTRIP_ORACLE = """
    WITH src AS (SELECT (CASE CAST(user_id % 4 AS INT)
          WHEN 0 THEN concat('{"k": ', CAST(event_id % 97 AS VARCHAR), '}')
          WHEN 1 THEN concat('{"a": {"b": ',
                             CAST(event_id % 100 AS VARCHAR), '}}')
          WHEN 2 THEN concat('[', CAST(event_id % 7 AS VARCHAR), ', ',
                             CAST(event_id % 11 AS VARCHAR), ']')
          ELSE concat('{"broken": ', event_type)
        END) AS raw FROM events),
    p AS (SELECT CASE WHEN json_valid(raw) THEN raw END AS v FROM src),
    c AS (SELECT v,
                 CASE
                   WHEN v IS NULL THEN 'malformed'
                   WHEN TRY_CAST(json_extract(v, '$.k') AS BIGINT)
                        IS NOT NULL THEN 'flat'
                   WHEN TRY_CAST(json_extract(v, '$.a.b') AS BIGINT)
                        IS NOT NULL THEN 'nested'
                   WHEN TRY_CAST(json_extract(v, '$[1]') AS BIGINT)
                        IS NOT NULL THEN 'arr'
                   ELSE 'other'
                 END AS shape,
                 COALESCE(TRY_CAST(json_extract(v, '$.k') AS BIGINT),
                          TRY_CAST(json_extract(v, '$.a.b') AS BIGINT),
                          TRY_CAST(json_extract(v, '$[1]') AS BIGINT),
                          0) AS val
          FROM p)
    SELECT shape,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(val) AS BIGINT) AS sum_vals
    FROM c GROUP BY shape
"""


@register("scalar_variant_roundtrip", SCALAR_VARIANT_ROUNDTRIP_ORACLE)
def scalar_variant_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] VARIANT storage round trip — the storage half of the
    round-13 ingest gate: ragged JSON (the same four deterministic
    shapes as ``scalar_variant_ingest``) is parsed with
    ``try_parse_json`` into a VARIANT column, WRITTEN to Parquet,
    READ BACK, and only then classified and aggregated — per shape
    class (flat / nested / arr / malformed), row count and the exact
    integer sum of the extracted value.  The classification comes
    from ``try_variant_get`` probes against the *stored* value, so
    any loss in the write/read leg (metadata dictionary, binary
    encoding, nulls) breaks parity with the oracle, which computes
    the same profile from the synthesis directly (it cannot read the
    parquet: Spark's Variant logical type is ahead of both DuckDB's
    and pyarrow's readers — which is also why this query, not an
    external tool, must own the round-trip check).

    This build writes the UNSHREDDED binary encoding (the
    ``metadata``/``value`` struct pair; Spark 4.1 reads shredded
    files — ``spark.sql.variant.allowReadingShredded`` defaults true
    — but has no shredded-write conf yet), asserted physically in
    tests/test_round14.py.

    Scale: the scratch write is one codegen scan of events + a
    columnar parquet write; the read-back profile is the same 4-key
    hash aggregate as the ingest gate.  The scratch path is
    per-(sf_dir) deterministic with mode=overwrite, so repeated runs
    are idempotent and leave exactly one generation on disk."""
    events = load_table(spark, sf_dir, "events")
    raw = F.expr(
        """
        CASE CAST(user_id % 4 AS INT)
          WHEN 0 THEN concat('{"k": ', CAST(event_id % 97 AS STRING), '}')
          WHEN 1 THEN concat('{"a": {"b": ',
                             CAST(event_id % 100 AS STRING), '}}')
          WHEN 2 THEN concat('[', CAST(event_id % 7 AS STRING), ', ',
                             CAST(event_id % 11 AS STRING), ']')
          ELSE concat('{"broken": ', event_type)
        END
        """
    )
    parsed = events.select(F.try_parse_json(raw).alias("v"))
    out = variant_scratch_path(sf_dir)
    parsed.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    get = lambda path: F.try_variant_get(F.col("v"), path, "long")  # noqa: E731
    classified = back.select(
        F.when(F.col("v").isNull(), F.lit("malformed"))
        .when(get("$.k").isNotNull(), F.lit("flat"))
        .when(get("$.a.b").isNotNull(), F.lit("nested"))
        .when(get("$[1]").isNotNull(), F.lit("arr"))
        .otherwise(F.lit("other"))
        .alias("shape"),
        F.coalesce(get("$.k"), get("$.a.b"), get("$[1]"), F.lit(0)).alias(
            "val"
        ),
    )
    return classified.groupBy("shape").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("val").alias("sum_vals"),
    )


def variant_scratch_path(sf_dir: str) -> str:
    """Deterministic per-fixture scratch dir for the round-trip write:
    stable across repeats (mode=overwrite keeps it single-generation)
    and distinct across sf fixtures so bench at sf0.1 and the driver
    at sf0.01 never clobber each other mid-run."""
    tag = hashlib.sha256(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), "gmduh_variant_roundtrip", tag, "v"
    )
