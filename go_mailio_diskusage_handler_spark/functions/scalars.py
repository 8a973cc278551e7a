"""[EXT] Scalar function coverage: date, math, JSON, array.

The reference's only scalar op is the path split (O6,
``/root/reference/handler.go:234-239``).  These extend coverage to the
scalar families SURVEY §2.1 calls for, all built-in JVM expressions
(whole-stage-codegen-eligible — no Python in any of these paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from go_mailio_diskusage_handler_spark.operators.text import tokens


def monthly_order_stats(orders: DataFrame) -> DataFrame:
    """Date scalars: month bucketing via date_format (string key keeps
    the cross-engine comparison type-stable)."""
    return (
        orders.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            "o_totalprice",
        )
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def json_event_stats(events: DataFrame) -> DataFrame:
    """JSON scalar: extract ``$.k`` from the props JSON string and
    aggregate per event type.  get_json_object is a JVM expression —
    no Python round-trip for JSON parsing."""
    return (
        events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def map_event_props(events: DataFrame) -> DataFrame:
    """MapType surface: parse the props JSON into ``map<string,bigint>``
    (`from_json`), explode it into (key, value) rows, aggregate per
    (event_type, key).

    The whole path — parse, generator explode, aggregation — is JVM
    expressions; schema-on-read for semi-structured columns without a
    Python round-trip.  At scale the explode multiplies rows by map
    arity *before* the shuffle, but partial aggregation collapses them
    again, so the exchange stays one row per (task × group).
    """
    m = F.from_json("props", "map<string,bigint>")
    return (
        events.select("event_type", F.explode(m).alias("prop_key", "prop_value"))
        .groupBy("event_type", "prop_key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("prop_value").alias("sum_value"),
        )
    )


def embedding_array_stats(embeddings: DataFrame) -> DataFrame:
    """Array scalars over array<float>: size, element access, and an
    L2 norm via the higher-order ``aggregate`` — all JVM-side (no UDF),
    which is what keeps vector math feasible at billions of rows."""
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return embeddings.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.col("embedding")[0].cast("double"), 6).alias("first_component"),
        F.round(norm, 6).alias("l2_norm"),
        "label",
    )


SLIDING_WINDOW = "10 minutes"
SLIDING_SLIDE = "5 minutes"
DISTINCT_USERS_WINDOW = "60 minutes"
TUMBLING_WINDOW = "10 minutes"


def sliding_event_windows(events: DataFrame) -> DataFrame:
    """Sliding (hopping) event-time windows: each event lands in
    size/slide overlapping windows.  ``F.window`` generates the
    overlap internally (no join, no explode in user code)."""
    return (
        events.groupBy(
            F.window("ts", SLIDING_WINDOW, SLIDING_SLIDE).alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "event_count",
        )
    )


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """Distinct users per event-time tumbling window — exact count +
    HLL++ sketch in ONE grouped aggregate (two partial buffers, one
    shuffle), emitted as the deterministic invariant pattern of the
    sketch tier: the exact count plus a boolean asserting the sketch
    estimate lands within 5× the configured rsd.

    This is the canonical always-on streaming metric (active users per
    window); the same expression runs under ``withWatermark`` as a
    stream, where ONLY the sketch column is feasible at 100 TB — exact
    distinct state is O(users), the HLL buffer is KBs per window.  The
    batch twin carries both so the oracle can check the exact column
    and bound the sketch.
    """
    rsd = 0.01
    return (
        events.groupBy(F.window("ts", DISTINCT_USERS_WINDOW).alias("w"))
        .agg(
            F.countDistinct("user_id").alias("distinct_users"),
            F.approx_count_distinct("user_id", rsd).alias("approx"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "distinct_users",
            # A window whose events all carry NULL user_id has
            # distinct_users = 0 (countDistinct skips NULLs); the
            # relative-error form would divide by zero and emit a NULL
            # that breaks the invariant's hashability — both sketches
            # agreeing on zero IS the sketch being right.
            F.when(
                F.col("distinct_users") == 0, F.col("approx") == 0
            )
            .otherwise(
                F.abs(F.col("approx") - F.col("distinct_users"))
                / F.col("distinct_users")
                <= F.lit(5 * rsd)
            )
            .alias("sketch_ok"),
        )
    )


def tumbling_event_windows(events: DataFrame) -> DataFrame:
    """Event-time tumbling window aggregation (batch form).

    ``F.window`` is the same expression Structured Streaming uses; a
    streaming form would add only ``withWatermark``.
    Window start is exported as epoch seconds for engine-neutral
    comparison.
    """
    return (
        events.groupBy(F.window("ts", TUMBLING_WINDOW).alias("w"), "event_type")
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


SKETCH_REL_TOL = 0.05


def mergeable_user_sketches(events: DataFrame) -> DataFrame:
    """Apache DataSketches HLL as a MERGEABLE rollup: per-(type, day)
    partial sketches (``hll_sketch_agg``) unioned per type
    (``hll_union_agg``) — the two-level pattern a 100 TB metrics
    pipeline stores: small daily sketch blobs answer any later
    date-range distinct question by UNION, never by rescanning events.
    (``approx_count_distinct`` covers the one-shot estimate; this
    covers re-aggregatability, which one-shot estimates don't give.)

    Driver-checkable invariant form (sketch bytes aren't
    SQL-portable): per event type, the exact distinct-user count plus
    a boolean asserting the merged estimate lands within
    ``SKETCH_REL_TOL``
    — at fixture cardinalities (≤150 users) the default lgK=12 sketch
    is essentially exact.
    """
    typed = events.filter(F.col("user_id").isNotNull())
    daily = typed.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = typed.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= SKETCH_REL_TOL * F.col("exact_users")
        ).alias("merge_ok"),
    )


def bitmap_distinct_users(events: DataFrame) -> DataFrame:
    """EXACT mergeable distinct counting via Spark's bitmap functions —
    the deterministic sibling of the HLL rollup
    (:func:`mergeable_user_sketches`): per-(type, day, bucket) dense
    bitmaps (``bitmap_construct_agg`` over ``bitmap_bit_position``),
    OR-merged across days (``bitmap_or_agg``), counted with
    ``bitmap_count``.  Same two-level store-partials-then-merge shape,
    but the answer is exactly COUNT(DISTINCT …) — the right tool when
    ids are dense integers and exactness is contractual (billing,
    quota), at ~4 KB per 32 768-id bucket per group.
    """
    typed = events.filter(F.col("user_id").isNotNull())
    daily = typed.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
        F.bitmap_bucket_number("user_id").alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm")
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    return merged.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("distinct_users")
    )


def variant_prop_stats(events: DataFrame) -> DataFrame:
    """Semi-structured props through the VARIANT type (Spark 4):
    ``parse_json`` once into the binary variant encoding, then typed
    ``variant_get`` path extraction — unlike per-field
    ``get_json_object`` string re-parses (scalar_json_events covers
    those), the variant parse cost is paid once per row no matter how
    many fields are later read, which is the difference at 100 TB of
    event payloads.
    """
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return (
        events.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


TOP_WINDOW_MINUTES = 60
TOP_TYPES_PER_WINDOW = 3


def windowed_top_event_types(events: DataFrame) -> DataFrame:
    """Per-window heavy hitters: each event-time window's top
    ``TOP_TYPES_PER_WINDOW`` event types by count (count desc, type asc
    tie-break) — the dashboard primitive behind "what dominated the
    last hour".

    Shape at 100 TB: ONE aggregation keyed on (window, type) — a
    bounded domain after map-side combine — then rank inside each
    window partition, whose input is ≤ |event_types| rows: the window
    function runs on the AGGREGATE, never the fact table (same fence
    as the quality-gate histogram).  The streaming twin is the
    windowed-counts stream + the same rank over its sink.
    """
    from pyspark.sql import Window

    counts = (
        events.groupBy(
            F.window("ts", f"{TOP_WINDOW_MINUTES} minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.select(
            "*", F.row_number().over(w).alias("type_rank")
        ).filter(F.col("type_rank") <= TOP_TYPES_PER_WINDOW)
    )


def event_value_deciles(events: DataFrame) -> DataFrame:
    """Equi-depth distribution summary: per event type, the nine
    internal deciles of ``value`` — the calibration/SLO primitive
    ("what does p90 look like per class").  EXACT percentiles as ONE
    aggregate per type returning the whole decile array (no window
    over the fact table, no per-decile re-scan), then a bounded
    explode to (type, decile, value) rows.  Both engines interpolate
    linearly over doubles, so values match bit-for-bit before the
    4-digit display rounding.
    """
    qs = [i / 10 for i in range(1, 10)]
    arr = F.expr(
        "percentile(value, array(" + ", ".join(str(q) for q in qs) + "))"
    )
    return (
        events.groupBy("event_type")
        .agg(arr.alias("dec"))
        .select(
            "event_type",
            F.posexplode("dec").alias("idx", "v"),
        )
        .select(
            "event_type",
            ((F.col("idx") + 1) * 10).alias("decile_pct"),
            F.round("v", 4).alias("decile_value"),
        )
    )


def safe_json_parse_stats(events: DataFrame) -> DataFrame:
    """ANSI-safe parsing over dirty JSON: per event type, how many
    props blobs are invalid JSON, how many parse but carry a
    non-numeric payload, and the sum of the values that survive —
    ``try_cast`` + validity guards instead of job-killing exceptions,
    which is the difference between one bad row and a dead 100 TB
    ingest.  The fixture's props are uniformly clean, so the query
    derives deterministic dirt (doc-residue-keyed invalid-JSON and
    wrong-type variants) and both engines parse the same mess.
    """
    did = F.col("event_id")
    dirty = (
        F.when(did % 5 == 0, F.lit("oops not json"))
        .when(did % 7 == 0, F.lit('{"k": "abc"}'))
        .otherwise(F.col("props"))
    )
    k = F.expr("try_cast(get_json_object(p, '$.k') AS BIGINT)")
    return (
        events.select("event_type", dirty.alias("p"))
        .select(
            "event_type",
            F.expr("get_json_object(p, '$.k') IS NULL").alias("bad_json"),
            k.alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("bad_json"), 1).otherwise(0)).alias(
                "n_invalid_json"
            ),
            F.sum(
                F.when(~F.col("bad_json") & F.col("k").isNull(), 1).otherwise(0)
            ).alias("n_nonnumeric"),
            F.sum("k").alias("sum_k"),
        )
    )


KLL_RANK_TOL = 0.02


def mergeable_value_quantiles(events: DataFrame) -> DataFrame:
    """Apache DataSketches KLL as a MERGEABLE quantile rollup — the
    quantile sibling of :func:`mergeable_user_sketches`: per-(type,
    day) partial sketches (``kll_sketch_agg_double`` over ``value``)
    merged per type (``kll_merge_agg_double``).  A 100 TB metrics
    store keeps the small daily sketch blobs and answers any later
    date-range percentile question by MERGE — ``approx_percentile``
    gives the one-shot estimate but cannot re-aggregate.

    Driver-checkable invariant form (sketch bytes aren't
    SQL-portable): per event type, the exact value count, plus
    booleans asserting (a) the sketch's retained N is EXACTLY the
    count (KLL tracks n losslessly) and (b) each estimated quantile's
    TRUE rank — measured against the raw values with one extra
    broadcast-join pass — lands within ``KLL_RANK_TOL`` of its target
    (default k=200 bounds normalized rank error well under 2%).  The
    rank check is two-sided on the CDF step: rank(est⁻) ≤ p+tol and
    rank(est⁺) ≥ p−tol, which is insertion-order-stable where a
    value-tolerance check would not be.

    NULL event types are filtered (mirrored in the oracle): the rank
    pass rejoins the estimates on ``event_type``, and an equi-join
    silently drops a NULL-keyed group that a plain GROUP BY would
    emit — a cross-engine row-count trap even though current fixtures
    carry no NULL event types.
    """
    vals = events.filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", F.date_trunc("day", "ts").alias("d"), "value")
    daily = vals.groupBy("event_type", "d").agg(
        F.kll_sketch_agg_double("value").alias("sk")
    )
    merged = daily.groupBy("event_type").agg(
        F.kll_merge_agg_double("sk").alias("mk")
    )
    est = merged.select(
        "event_type",
        F.kll_sketch_get_n_double("mk").alias("sketch_n"),
        *[
            F.kll_sketch_get_quantile_double("mk", F.lit(p)).alias(f"q{tag}")
            for p, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
        ],
    )
    ranked = vals.join(F.broadcast(est), "event_type").groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_values"),
        F.any_value("sketch_n").alias("sketch_n"),
        *[
            a
            for p, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
            for a in (
                (
                    F.sum(
                        F.when(F.col("value") < F.col(f"q{tag}"), 1).otherwise(0)
                    )
                    / F.count(F.lit(1))
                    <= p + KLL_RANK_TOL
                ).alias(f"q{tag}_lo_ok"),
                (
                    F.sum(
                        F.when(F.col("value") <= F.col(f"q{tag}"), 1).otherwise(0)
                    )
                    / F.count(F.lit(1))
                    >= p - KLL_RANK_TOL
                ).alias(f"q{tag}_hi_ok"),
            )
        ],
    )
    return ranked.select(
        "event_type",
        F.col("n_values").cast("bigint").alias("n_values"),
        (F.col("sketch_n") == F.col("n_values")).alias("n_ok"),
        *[
            (F.col(f"q{tag}_lo_ok") & F.col(f"q{tag}_hi_ok")).alias(
                f"q{tag}_ok"
            )
            for tag in ("50", "90", "99")
        ],
    )


def theta_retained_users(events: DataFrame) -> DataFrame:
    """Apache DataSketches Theta as MERGEABLE distinct sketches with
    SET OPERATIONS — the capability HLL fundamentally lacks: daily
    user sketches intersect (``theta_intersection``) for day-over-day
    retention and difference (``theta_difference``) for new-user
    counts, both answered from stored per-day blobs without
    re-scanning events.

    Driver-checkable invariant form: per consecutive-day pair (LAG
    over the DISTINCT days actually present — a data gap pairs across
    it, in both engines) the EXACT retained / new distinct-user
    counts, plus booleans asserting each theta estimate lands within
    ``SKETCH_REL_TOL`` (absolute slack 1 for near-empty intersections; at
    fixture cardinalities theta mode is exact — every sketch is far
    below its k=4096 sampling threshold).

    Plan shape at 100 TB: the sketch path is two shuffles (per-day
    partials, then a days-long single-partition LAG — day count is
    driver-scale); the exact tier is one distinct (day, user) shuffle
    + a broadcast of the tiny day-pairs table + one semi equi-join on
    (user_id, prev_d) — linear, no per-user day×day blowup.
    """
    from pyspark.sql import Window

    ud = (
        events.filter(F.col("user_id").isNotNull())
        .select(F.date_trunc("day", "ts").alias("d"), "user_id")
        .distinct()
    )
    daily = ud.groupBy("d").agg(F.theta_sketch_agg("user_id").alias("sk"))
    w = Window.orderBy("d")
    pairs = daily.select(
        "d",
        "sk",
        F.lag("sk").over(w).alias("prev_sk"),
        F.lag("d").over(w).alias("prev_d"),
    ).filter(F.col("prev_sk").isNotNull())
    est = pairs.select(
        "d",
        "prev_d",
        F.theta_sketch_estimate(
            F.theta_intersection("prev_sk", "sk")
        ).alias("est_retained"),
        F.theta_sketch_estimate(
            F.theta_difference("sk", "prev_sk")
        ).alias("est_new"),
    )
    day_pairs = est.select("d", "prev_d")
    ud_prev = ud.select("user_id", F.col("d").alias("prev_d"))
    retained = (
        ud.join(F.broadcast(day_pairs), "d")
        .join(ud_prev, ["user_id", "prev_d"], "left_semi")
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("exact_retained"))
    )
    totals = ud.groupBy("d").agg(F.count(F.lit(1)).alias("exact_users"))

    def ok(est_col: str, exact_col):
        return F.abs(F.col(est_col) - exact_col) <= F.greatest(
            F.lit(1.0), SKETCH_REL_TOL * exact_col
        )

    exact_new = F.col("exact_users") - F.coalesce(
        F.col("exact_retained"), F.lit(0)
    )
    return (
        est.join(retained, "d", "left")
        .join(totals, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("exact_retained"), F.lit(0))
            .cast("bigint")
            .alias("exact_retained"),
            exact_new.cast("bigint").alias("exact_new"),
            ok("est_retained", F.coalesce(F.col("exact_retained"), F.lit(0))).alias(
                "retained_ok"
            ),
            ok("est_new", exact_new).alias("new_ok"),
        )
    )


def collation_distinct_labels(documents: DataFrame) -> DataFrame:
    """Spark 4 collation surface: per-source distinct label counts
    under the default binary collation vs UNICODE_CI.

    The label is each document's first word, upper-cased on even
    doc_ids — a deterministic mixed-case derivation, so the two
    counts MUST differ wherever both casings occur.  Collated
    comparison happens inside the aggregate (``F.collate``): no
    normalize-then-group rewrite, which is the point of engine-level
    collations — the optimizer sees the semantics instead of a
    ``lower()`` black box.  For the ASCII fixture, UNICODE_CI
    equivalence classes coincide with ``lower()`` classes, which is
    what the DuckDB oracle mirrors.

    One hash aggregate; distinct pre-aggregates map-side per group.
    """
    first_word = F.element_at(tokens(), 1)
    label = F.when(
        F.col("doc_id") % 2 == 0, F.upper(first_word)
    ).otherwise(first_word)
    return documents.select("source", label.alias("label")).groupBy("source").agg(
        F.countDistinct("label").alias("distinct_binary"),
        F.countDistinct(F.collate("label", "UNICODE_CI")).alias("distinct_ci"),
    )


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
RAGGED_RAW_SPARK = """
    CASE CAST(user_id % 4 AS INT)
      WHEN 0 THEN concat('{"k": ', CAST(event_id % 97 AS STRING), '}')
      WHEN 1 THEN concat('{"a": {"b": ', CAST(event_id % 100 AS STRING), '}}')
      WHEN 2 THEN concat('[', CAST(event_id % 7 AS STRING), ', ',
                         CAST(event_id % 11 AS STRING), ']')
      ELSE concat('{"broken": ', event_type)
    END
"""


def variant_profile_frame(df: DataFrame) -> DataFrame:
    """The shared VARIANT ingest profile over a frame carrying
    (event_id, user_id, event_type): ragged-JSON synthesis →
    try_parse_json → per-path try_variant_get coverage counts + exact
    value sum, grouped by event_type.  Used by the query
    ``scalar_variant_ingest``.  The profile columns are all mergeable
    (counts / sums), so per-batch partials over a feed sum to the
    whole-feed answer exactly."""
    raw = F.expr(RAGGED_RAW_SPARK)
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
