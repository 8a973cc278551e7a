"""Scalar-function family (``scalar_``): date, math, JSON, map,
array, XML and collation functions, the Spark-4 DataFrame surfaces
(``transpose``, grouping sets, ``VARIANT_EXPLODE``), and VARIANT
ingest and storage round trips.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars
from ..functions.scalars import RAGGED_RAW_SPARK, variant_profile_frame
from ..operators import relational
from ..sources.tables import load_table, register_views
from ._base import register, register_texts


@register(
    "scalar_monthly_orders",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           COUNT(*) AS order_count,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY order_month
    """,
)
def scalar_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scalars.monthly_order_stats(load_table(spark, sf_dir, "orders"))


register_texts(__name__, {
    "scalar_math_buckets": """
    SELECT l_orderkey % 8 AS bucket,
           COUNT(*) AS row_count,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS discounted_revenue,
           ROUND(AVG(sqrt(l_extendedprice)), 4) AS avg_sqrt_price
    FROM lineitem GROUP BY bucket
    """,
})


@register(
    "scalar_json_events",
    """
    SELECT event_type,
           COUNT(*) AS event_count,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def scalar_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scalars.json_event_stats(load_table(spark, sf_dir, "events"))


@register(
    "scalar_map_props",
    """
    WITH kv AS (
        SELECT event_type,
               unnest(json_keys(props)) AS prop_key,
               props
        FROM events
    )
    SELECT event_type, prop_key,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.' || prop_key) AS BIGINT))
                AS BIGINT) AS sum_value
    FROM kv GROUP BY event_type, prop_key
    """,
)
def scalar_map_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType via from_json + explode (scalars.map_event_props)."""
    return scalars.map_event_props(load_table(spark, sf_dir, "events"))


@register(
    "scalar_embedding_arrays",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_component,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm,
           label
    FROM embeddings
    """,
)
def scalar_embedding_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    return scalars.embedding_array_stats(load_table(spark, sf_dir, "embeddings"))


@register(
    "scalar_variant_props",
    """
    WITH k AS (SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k
               FROM events)
    SELECT k % 10 AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k
    FROM k GROUP BY k_bucket
    """,
)
def scalar_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-4 VARIANT path: parse_json once, typed variant_get
    extraction (scalars.variant_prop_stats)."""
    return scalars.variant_prop_stats(load_table(spark, sf_dir, "events"))


# [EXT] Z-order (Morton) clustering keys over (o_custkey,
# o_totalprice): exact-integer quantization to 2^8 buckets per dim,
# bit-interleaved — the layout primitive for multi-dimensional data
# skipping.  All integer math, bit-identical across engines.
ZORDER_SQL = """
    WITH stats AS (SELECT min(o_custkey) AS lo_x, max(o_custkey) AS hi_x,
                          min(CAST(floor(o_totalprice) AS BIGINT)) AS lo_y,
                          max(CAST(floor(o_totalprice) AS BIGINT)) AS hi_y
                   FROM orders),
    b AS (SELECT o_orderkey,
                 (o_custkey - lo_x) * 256 // (hi_x - lo_x + 1) AS bucket_x,
                 (CAST(floor(o_totalprice) AS BIGINT) - lo_y) * 256
                     // (hi_y - lo_y + 1) AS bucket_y
          FROM orders, stats)
    SELECT o_orderkey, bucket_x, bucket_y,
           CAST(((bucket_x >> 0) & 1) * 1 + ((bucket_y >> 0) & 1) * 2 + ((bucket_x >> 1) & 1) * 4 + ((bucket_y >> 1) & 1) * 8 + ((bucket_x >> 2) & 1) * 16 + ((bucket_y >> 2) & 1) * 32 + ((bucket_x >> 3) & 1) * 64 + ((bucket_y >> 3) & 1) * 128 + ((bucket_x >> 4) & 1) * 256 + ((bucket_y >> 4) & 1) * 512 + ((bucket_x >> 5) & 1) * 1024 + ((bucket_y >> 5) & 1) * 2048 + ((bucket_x >> 6) & 1) * 4096 + ((bucket_y >> 6) & 1) * 8192 + ((bucket_x >> 7) & 1) * 16384 + ((bucket_y >> 7) & 1) * 32768 AS BIGINT) AS z_key
    FROM b
"""


@register("scalar_zorder_keys", ZORDER_SQL)
def scalar_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Morton z-order clustering keys
    (operators/relational.py:zorder_keys)."""
    return relational.zorder_keys(load_table(spark, sf_dir, "orders"))


# [EXT] ANSI-safe dirty-JSON parsing (try_cast + validity guards) over
# deterministically dirtied props.
SCALAR_TRY_PARSE_SQL = """
    WITH d AS (SELECT event_type,
                      CASE WHEN event_id % 5 = 0 THEN 'oops not json'
                           WHEN event_id % 7 = 0 THEN '{"k": "abc"}'
                           ELSE props END AS p
               FROM events),
    parsed AS (SELECT event_type,
                      CASE WHEN json_valid(p)
                           THEN json_extract_string(p, '$.k') END AS ks
               FROM d)
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ks IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_invalid_json,
           CAST(SUM(CASE WHEN ks IS NOT NULL
                              AND TRY_CAST(ks AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nonnumeric,
           CAST(SUM(TRY_CAST(ks AS BIGINT)) AS BIGINT) AS sum_k
    FROM parsed GROUP BY event_type
"""


@register("scalar_try_parse", SCALAR_TRY_PARSE_SQL)
def scalar_try_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Safe parsing of dirty JSON
    (functions/scalars.py:safe_json_parse_stats)."""
    return scalars.safe_json_parse_stats(load_table(spark, sf_dir, "events"))


# DuckDB mirror of scalars.collation_distinct_labels: UNICODE_CI
# equivalence == lower() classes on the ASCII fixture.
COLLATION_CI_SQL = """
    WITH t AS (SELECT source,
                      CASE WHEN doc_id % 2 = 0
                           THEN upper(string_split(text, ' ')[1])
                           ELSE string_split(text, ' ')[1] END AS label
               FROM documents)
    SELECT source,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS distinct_binary,
           CAST(COUNT(DISTINCT lower(label)) AS BIGINT) AS distinct_ci
    FROM t GROUP BY 1
"""


@register("scalar_collation_ci", COLLATION_CI_SQL)
def scalar_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Spark 4 collations: distinct counts under binary vs
    UNICODE_CI collation over a deterministic mixed-case label
    (functions/scalars.py:collation_distinct_labels)."""
    from ..functions import scalars

    return scalars.collation_distinct_labels(load_table(spark, sf_dir, "documents"))


# DuckDB mirror of scalar_transpose_metrics: the transposed frame
# assembled directly — one row per metric, one column per return flag.
# The flag set {A, N, R} is a TPC-H domain constant (the same constant
# the Spark side's deterministic column order rests on).
SCALAR_TRANSPOSE_ORACLE = """
    SELECT 'sum_qty' AS key,
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'A'
                               THEN l_quantity END), 2) AS DOUBLE) AS A,
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'N'
                               THEN l_quantity END), 2) AS DOUBLE) AS N,
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R'
                               THEN l_quantity END), 2) AS DOUBLE) AS R
    FROM lineitem
    UNION ALL
    SELECT 'sum_price',
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'A'
                               THEN l_extendedprice END), 2) AS DOUBLE),
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'N'
                               THEN l_extendedprice END), 2) AS DOUBLE),
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R'
                               THEN l_extendedprice END), 2) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'avg_disc',
           CAST(ROUND(AVG(CASE WHEN l_returnflag = 'A'
                               THEN l_discount END), 4) AS DOUBLE),
           CAST(ROUND(AVG(CASE WHEN l_returnflag = 'N'
                               THEN l_discount END), 4) AS DOUBLE),
           CAST(ROUND(AVG(CASE WHEN l_returnflag = 'R'
                               THEN l_discount END), 4) AS DOUBLE)
    FROM lineitem
"""


@register("scalar_transpose_metrics", SCALAR_TRANSPOSE_ORACLE)
def scalar_transpose_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``DataFrame.transpose`` (Spark 4.0): metrics-per-flag
    pivoted to flags-per-metric — the report orientation flip.  Scale:
    transpose collects the INDEX COLUMN's distinct values to the
    driver to mint column names, so it is only ever applied to a
    post-aggregate frame (here 3 rows x 4 cols, bounded by
    |l_returnflag| = 3 — a TPC-H domain constant); the fact-table
    groupBy before it is map-side combined and flag-keyed.  The
    orderBy pins transpose's column order deterministically."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
        .orderBy("l_returnflag")
    )
    return agg.transpose()


# DuckDB mirror of scalar_groupingsets_df: DuckDB GROUPING() over the
# same three grouping sets is bit-identical to Spark's grouping_id()
# (both are the bitmask of grouped-out columns, most-significant
# first).  CAST BIGINT for the dtype-strict gate.
SCALAR_GROUPINGSETS_DF_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
"""


@register("scalar_groupingsets_df", SCALAR_GROUPINGSETS_DF_ORACLE)
def scalar_groupingsets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``DataFrame.groupingSets`` (Spark 4.0): the DataFrame-API
    twin of SQL GROUPING SETS (`sql_grouping_sets`) — the multi-level
    rollup built programmatically, for pipelines that assemble the set
    list from config rather than SQL text.  Identical physical shape:
    ONE Expand over the scan, one hash aggregate, one shuffle —
    grouping-set fan-out costs |sets|× the map-side rows, never extra
    passes over the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        ).agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# DuckDB mirror of scalar_variant_explode: DuckDB has no VARIANT type
# or VARIANT_EXPLODE TVF; the same key/value stream is produced by
# building the identical JSON object per event and unnesting its keys
# (json_keys + json_extract).  CAST(JSON AS VARCHAR) and Spark's
# to_json(variant) both emit canonical JSON text ('"click"', 'false',
# '87'), which is what makes min/max comparable across engines.
SCALAR_VARIANT_EXPLODE_ORACLE = """
    WITH src AS (
        SELECT to_json(struct_pack(
                   et := event_type,
                   k := CAST(json_extract_string(props, '$.k') AS INTEGER),
                   hi := value > 50.0)) AS j
        FROM events),
    e AS (SELECT k AS key, CAST(json_extract(j, '$.' || k) AS VARCHAR) AS v
          FROM src, unnest(json_keys(j)) AS t(k))
    SELECT key,
           COUNT(*) AS n_entries,
           MIN(v) AS min_value,
           MAX(v) AS max_value
    FROM e GROUP BY key
"""


@register("scalar_variant_explode", SCALAR_VARIANT_EXPLODE_ORACLE)
def scalar_variant_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``VARIANT_EXPLODE`` lateral TVF (Spark 4.0): a
    semi-structured VARIANT object fanned out to (pos, key, value)
    rows per input row — the schema-on-read path for ragged JSON where
    variant_get's static paths (scalar_variant_props) don't apply.
    The variant is built per-row from typed columns (string / int /
    bool) so the exploded values exercise three JSON scalar types.
    Scale: the lateral join is a generator inside the scan stage (no
    shuffle before the 3-key groupBy); VARIANT parse + explode are
    JVM-side, zero Python."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT key,
               COUNT(*) AS n_entries,
               MIN(to_json(value)) AS min_value,
               MAX(to_json(value)) AS max_value
        FROM (SELECT parse_json(to_json(named_struct(
                  'et', event_type,
                  'k', CAST(get_json_object(props, '$.k') AS INT),
                  'hi', value > 50.0))) AS v
              FROM events) t,
        LATERAL variant_explode(v) AS e(pos, key, value)
        GROUP BY key
        """
    )


# ---------------------------------------------------------------------------
# scalar_map_hof_shares — map higher-order functions
# ---------------------------------------------------------------------------

# DuckDB mirror: maps are an encoding detail of the Spark side — the
# relational content is the per-(user, type) average value, filtered.
# Values are 2-decimal doubles, so summing ROUND(value*100) as BIGINT
# is exact; the emitted average is ONE IEEE division of identical
# exact integers, so both engines produce the bit-identical double
# and no ROUND (with its representability-boundary tie hazard — F.round
# rounds the shortest decimal repr, DuckDB the exact binary value) is
# needed anywhere.  The threshold filter is pure integer arithmetic
# for the same reason.
SCALAR_MAP_HOF_ORACLE = """
    SELECT user_id, event_type,
           SUM(CAST(ROUND(value * 100) AS BIGINT))
               / (COUNT(*) * 100.0) AS avg_value
    FROM events
    GROUP BY user_id, event_type
    HAVING SUM(CAST(ROUND(value * 100) AS BIGINT)) >= 6000 * COUNT(*)
"""


@register("scalar_map_hof_shares", SCALAR_MAP_HOF_ORACLE)
def scalar_map_hof_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Map higher-order functions — ``map_from_entries`` to build
    per-user (event_type -> count) and (event_type -> value_sum) maps,
    ``map_zip_with`` to pair them, ``map_filter`` to keep hot types
    (integer threshold), ``transform_values`` to finish the averages,
    and ``explode`` back to rows.  The map-column feature-bundle shape
    ML pipelines carry per-entity features in.

    Scale: per-user map size is bounded by the |event_type| domain (5),
    so collect_list state is O(domain) per user, never O(events); all
    four lambdas execute as JVM codegen expressions, zero Python.  The
    pre-aggregation to (user, type) rows happens BEFORE map assembly —
    the maps are built from combined aggregates, not raw events.
    Values sum as exact integer cents; the emitted average is one IEEE
    division of identical exact integers (bit-identical across
    engines, no rounding step), and the keep-threshold compares
    integers (see the oracle comment)."""
    events = load_table(spark, sf_dir, "events")
    per_type = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("vsum"),
    )
    maps = per_type.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("cnt_map"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "vsum"))
        ).alias("sum_map"),
    )
    merged = maps.select(
        "user_id",
        F.transform_values(
            F.map_filter(
                F.map_zip_with(
                    "sum_map", "cnt_map", lambda _, s, c: F.struct(s.alias("s"), c.alias("c"))
                ),
                lambda _, v: v["s"] >= v["c"] * 6000,
            ),
            lambda _, v: v["s"] / (v["c"] * 100.0),
        ).alias("avg_map"),
    )
    return merged.select(
        "user_id", F.explode("avg_map").alias("event_type", "avg_value")
    )


# ---------------------------------------------------------------------------
# scalar_xml_orders — native XML parsing (Spark 4.0)
# ---------------------------------------------------------------------------

# DuckDB has no XML reader; the oracle computes the same aggregate from
# the raw columns the XML was synthesized from — a wrong parse (missed
# attribute, swapped element) breaks the value match.
SCALAR_XML_ORACLE = """
    SELECT o_orderstatus AS status, o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


@register("scalar_xml_orders", SCALAR_XML_ORACLE)
def scalar_xml_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Native XML (Spark 4.0, SPARK-44265): ``from_xml`` parsing
    a per-row XML fragment — one ATTRIBUTE (id, surfaced as ``_id``)
    and two child elements — into a typed struct, then aggregating the
    parsed fields.  The fragment is synthesized from typed columns so
    the DuckDB oracle can verify the parse end-to-end from the raw
    values: any parse defect (attribute/element confusion, type
    coercion) breaks the hash.

    Scale: from_xml is a JVM expression inside the scan's codegen
    stage (a per-row StAX parse, no Python, no shuffle before the
    bounded 15-group aggregate); this is the ingest shape for
    XML-bearing feeds (sitemaps, RSS, OOXML manifests) at any
    volume."""
    orders = load_table(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit('<r id="'),
        F.col("o_orderkey"),
        F.lit('"><s>'),
        F.col("o_orderstatus"),
        F.lit("</s><p>"),
        F.col("o_orderpriority"),
        F.lit("</p></r>"),
    )
    parsed = orders.select(
        F.from_xml(xml, "struct<_id:bigint, s:string, p:string>").alias("x")
    )
    return parsed.groupBy(
        F.col("x.s").alias("status"), F.col("x.p").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("x._id").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# scalar_sql2023_aggregates — ISO SQL:2023 aggregate-function breadth
# ---------------------------------------------------------------------------

# DuckDB mirrors every one of these natively (count_if / bool_or /
# median / max_by / regr_*).  max_by's ordering key is the UNIQUE
# o_orderkey so the argmax is deterministic.  med_price rounds to 4
# (ADVICE r11): an even-count group's median interpolates between two
# middle values that are NOT identical in general, and the engines
# only happened to agree because both currently use the
# lower+(higher-lower)*0.5 formula — an interpolation-formula change
# would drift by an ulp.  ROUND(,4) is exact here because prices are
# 2-decimal values, so the true median is a multiple of 0.005 and
# sits ON the 1e-4 rounding grid (never at a tie midpoint): any
# ulp-perturbed double rounds to the same grid point in both engines
# regardless of tie-break mode (pinned by
# tests/test_advice_r11.py::test_even_count_median_round_grid).
# The regr_* outputs round to 4: their float sums differ across
# engines at the last ulp, but unlike the cent-valued averages that
# flaked in round 11 (which land EXACTLY on decimal rounding
# boundaries by construction), a slope/r2 is a ratio of large
# co-moment sums — a generic rational whose probability of sitting
# within an ulp of a 1e-4 boundary is negligible, so ROUND is safe
# here and the regr_* surface stays the thing under test.
SCALAR_SQL2023_ORACLE = """
    SELECT o_orderpriority,
           CAST(count_if(o_totalprice > 300000) AS BIGINT) AS n_big,
           bool_or(o_orderstatus = 'P') AS any_pending,
           ROUND(median(o_totalprice), 4) AS med_price,
           max_by(o_custkey, o_orderkey) AS latest_cust,
           ROUND(regr_slope(o_totalprice, o_orderkey), 4) AS slope,
           ROUND(regr_r2(o_totalprice, o_orderkey), 4) AS r2
    FROM orders GROUP BY o_orderpriority
"""


register_texts(__name__, {
    "scalar_sql2023_aggregates": SCALAR_SQL2023_ORACLE,
})


# ---------------------------------------------------------------------------
# scalar_width_bucket_hist — equi-width bucketing function
# ---------------------------------------------------------------------------

# DuckDB has no width_bucket; the oracle mirrors its formula directly
# (1 + floor((x - lo) / width), clamped to [0, n+1]) — prices are
# 2-decimal doubles against integer bucket bounds, so both engines
# compute the same bucket on the same double.
SCALAR_WIDTH_BUCKET_ORACLE = """
    SELECT CAST(CASE WHEN o_totalprice < 0 THEN 0
                     WHEN o_totalprice >= 600000 THEN 13
                     ELSE 1 + floor(o_totalprice / 50000)
                END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
    FROM orders GROUP BY bucket
"""


@register("scalar_width_bucket_hist", SCALAR_WIDTH_BUCKET_ORACLE)
def scalar_width_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``width_bucket`` — the ISO equi-width histogram function:
    order values binned into 12 buckets over [0, 600000) with the
    standard underflow (0) / overflow (n+1) buckets.  The declarative
    sibling of `scalar_math_buckets`' hand arithmetic and the exact
    fixed-bin complement of the `histogram_numeric`-style adaptive
    sketches.

    Scale: a per-row codegen expression feeding one map-side-combined
    aggregate on a ≤14-value key — the cheapest possible distribution
    profile of a 100 TB fact column."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.width_bucket("o_totalprice", F.lit(0), F.lit(600000), F.lit(12))
            .cast("long")
            .alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact-integer-cents sum + one IEEE division (the
            # float-sum ROUND boundary class the round-11 oracle
            # hardening closed)
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                / 100.0
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# scalar_datetime_breadth — date-function surface in one pass
# ---------------------------------------------------------------------------

# DuckDB mirrors each function modulo dialect: date_trunc returns
# TIMESTAMP (cast back to DATE), dayofweek is 0=Sunday..6 (Spark is
# 1=Sunday..7 — the predicate compares the same two weekend days),
# date + INTERVAL yields DATE-convertible results with the same
# end-of-month clamp as Spark's add_months, and datediff('day',...)
# matches Spark's datediff(end, start).  Date outputs are emitted as
# 'yyyy-MM-dd' STRINGS — the repo-wide cross-engine convention
# (DuckDB DATE surfaces as datetime64 through pandas while Spark DATE
# surfaces as object, so raw dates fail the dtype-group gate) — and
# the rest are BIGINT: no floats, no rounding, no timezone surface.
SCALAR_DATETIME_ORACLE = """
    SELECT strftime(CAST(date_trunc('month', o_orderdate) AS DATE),
                    '%Y-%m-%d') AS month_start,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(count_if(dayofweek(o_orderdate) IN (0, 6)) AS BIGINT)
               AS n_weekend,
           strftime(MAX(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)),
                    '%Y-%m-%d') AS max_plus3m,
           CAST(MIN(datediff('day', o_orderdate, DATE '1998-12-31'))
                AS BIGINT) AS min_days_left
    FROM orders GROUP BY 1, 2
"""


@register("scalar_datetime_breadth", SCALAR_DATETIME_ORACLE)
def scalar_datetime_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Date-function breadth in one aggregation pass:
    ``trunc('month')``, ``last_day``, ``dayofweek``, ``add_months``
    (end-of-month clamped), and ``datediff`` — the calendar toolkit a
    partition-pruned date-keyed lakehouse layout leans on, exercised
    over pure DATE arithmetic so there is no timezone or float
    surface at all.

    Scale: one map-side-combined hash aggregate over ~84 month keys;
    every expression is whole-stage codegen.  The (month_start,
    month_end) pair is functionally dependent, so the key stays
    1-month-sized — this is the pre-aggregation you'd feed a
    partition-pruning BI layer."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.trunc("o_orderdate", "month").alias("month_start_d"),
            F.last_day("o_orderdate").alias("month_end_d"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(
                F.dayofweek("o_orderdate").isin(1, 7)
            ).alias("n_weekend"),
            F.max(F.add_months("o_orderdate", 3)).alias("max_plus3m_d"),
            F.min(
                F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate"))
            )
            .cast("long")
            .alias("min_days_left"),
        )
        .select(
            F.date_format("month_start_d", "yyyy-MM-dd").alias("month_start"),
            F.date_format("month_end_d", "yyyy-MM-dd").alias("month_end"),
            "n_orders",
            "n_weekend",
            F.date_format("max_plus3m_d", "yyyy-MM-dd").alias("max_plus3m"),
            "min_days_left",
        )
    )


# ---------------------------------------------------------------------------
# scalar_null_guards — null-handling function breadth, integer-exact
# ---------------------------------------------------------------------------

# DuckDB mirrors each guard with its ISO equivalent (COALESCE / NULLIF
# / CASE); every value is integer arithmetic so the compare is exact.
NULL_GUARDS_ORACLE = """
    WITH t AS (
        SELECT l_returnflag,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_cents,
               l_linenumber
        FROM lineitem)
    SELECT l_returnflag,
           CAST(count_if(NULLIF(disc_cents, 0) IS NULL) AS BIGINT)
               AS n_zero_disc,
           CAST(SUM(COALESCE(NULLIF(l_linenumber, 3), 0)) AS BIGINT)
               AS s_zeroifnull,
           CAST(SUM(CASE WHEN NULLIF(l_returnflag, 'N') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(count_if((CASE WHEN disc_cents = 0 THEN NULL
                               ELSE l_linenumber / disc_cents END) IS NULL)
                AS BIGINT) AS n_div_null
    FROM t GROUP BY l_returnflag
"""


@register("scalar_null_guards", NULL_GUARDS_ORACLE)
def scalar_null_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Null-guard function breadth in one aggregate:
    ``nullifzero`` / ``zeroifnull`` (SQL:2023, Spark 4.0), ``nvl2``,
    and ``try_divide`` (ANSI-safe division that yields NULL on zero
    instead of erroring) — the idioms a pipeline uses to keep
    ANSI-mode jobs from dying on degenerate denominators.  All paths
    are integer arithmetic, so the oracle compare is exact.

    Scale: one map-side-combined hash aggregate over the 3-value flag
    key; every guard is a codegen expression."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_discount") * 100).cast("long")
    t = lineitem.select(
        "l_returnflag", cents.alias("disc_cents"), "l_linenumber"
    )
    return t.groupBy("l_returnflag").agg(
        F.count_if(F.nullifzero("disc_cents").isNull()).alias("n_zero_disc"),
        F.sum(
            F.zeroifnull(F.nullif(F.col("l_linenumber"), F.lit(3)))
        ).alias("s_zeroifnull"),
        F.sum(
            F.nvl2(F.nullif(F.col("l_returnflag"), F.lit("N")),
                   F.lit(1), F.lit(0))
        ).cast("long").alias("n_flagged"),
        F.count_if(
            F.try_divide(F.col("l_linenumber"), F.col("disc_cents")).isNull()
        ).alias("n_div_null"),
    )


# ---------------------------------------------------------------------------
# scalar_variant_ingest — VARIANT ingest gate over ragged JSON
# ---------------------------------------------------------------------------

# DuckDB spelling of ``scalars.RAGGED_RAW_SPARK``: the same synthesis,
# so the oracle verifies the whole parse from raw values.
_RAGGED_RAW_DUCK = RAGGED_RAW_SPARK.replace("AS STRING", "AS VARCHAR")


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

    Scale: parse + gets are per-row JVM expressions inside the scan's
    codegen stage (VARIANT parse is single-pass, gets are O(1) on the
    binary encoding — no JSON re-parse per path); the aggregate is a
    5-key hash, partial → final.  Zero Python, zero shuffle keyed by
    data volume."""
    return variant_profile_frame(load_table(spark, sf_dir, "events"))


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
