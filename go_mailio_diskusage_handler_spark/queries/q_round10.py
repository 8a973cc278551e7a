"""Round-10 additions.

In-repo oracle parity: ``tests/test_round10.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from ._base import register

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
    click within 30 min — existence filter, no fan-out).  Same
    expression runs as a bounded-state leftSemi stream-stream join in
    streaming.windows.attributed_purchases_semi; stream ≡ batch
    asserted in tests/test_round10.py."""
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


# DuckDB mirror of udfs.user_value_stats_cogrouped_arrow: the Arrow
# cogroup kernel IS a full-outer merge of two per-user aggregates, so
# the oracle states it relationally.  CASTs/COALESCEs pin the dtype
# contract (BIGINT counts, DOUBLE sums coalesced to 0, NULL ratio when
# the user has no click value).
COGROUP_ARROW_SQL = """
    WITH c AS (SELECT user_id, COUNT(*) AS n_clicks,
                      COALESCE(SUM(value), 0) AS cv
               FROM events
               WHERE event_type = 'click' AND user_id IS NOT NULL
               GROUP BY user_id),
    p AS (SELECT user_id, COUNT(*) AS n_purchases,
                 COALESCE(SUM(value), 0) AS pv
          FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL
          GROUP BY user_id)
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           CAST(COALESCE(n_clicks, 0) AS BIGINT) AS n_clicks,
           CAST(COALESCE(n_purchases, 0) AS BIGINT) AS n_purchases,
           ROUND(COALESCE(cv, 0), 4) AS click_value,
           ROUND(COALESCE(pv, 0), 4) AS purchase_value,
           CASE WHEN COALESCE(cv, 0) > 0
                THEN ROUND(COALESCE(pv, 0) / cv, 4) END AS conv_ratio
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
"""


@register("udf_cogroup_arrow_stats", COGROUP_ARROW_SQL)
def udf_cogroup_arrow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] cogroup(...).applyInArrow (Spark 4) — per-user click vs
    purchase value stats merged in one Arrow kernel
    (functions/udfs.py:user_value_stats_cogrouped_arrow), completing
    the Arrow UDF tier beside mapInArrow, groupBy().applyInArrow and
    cogroup().applyInPandas."""
    from ..functions import udfs

    return udfs.user_value_stats_cogrouped_arrow(
        load_table(spark, sf_dir, "events")
    )


@register("events_attribution_full_outer", ATTRIBUTION_FULL_OUTER_SQL)
def events_attribution_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER interval self-join (purchases ⋈ preceding clicks
    within 30 min, unmatched rows of BOTH sides null-padded).  Same
    expression runs as a bounded-state full-outer stream-stream join
    in streaming.windows.attributed_purchases_full_outer; stream ≡
    batch asserted in tests/test_round10.py."""
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


# DuckDB mirror of sql_function_bands: the SQL-UDF bodies inlined
# (DuckDB macros could mirror the indirection, but the CONTRACT under
# test is Spark resolving CREATE FUNCTION bodies at plan time into
# exactly this relational form).
SQL_FUNCTION_BANDS_ORACLE = """
    SELECT CASE WHEN o_totalprice >= 250000 THEN 'premium'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'base' END AS band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders WHERE o_totalprice > 50000.0
    GROUP BY 1
"""


@register("sql_function_bands", SQL_FUNCTION_BANDS_ORACLE)
def sql_function_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SQL UDFs (Spark 4.0): a scalar CREATE FUNCTION (price
    banding) applied over a SQL TABLE FUNCTION (threshold-filtered
    orders, RETURNS TABLE used in FROM) — declarative reusable logic
    that Catalyst inlines at plan time, so the physical plan is
    identical to the hand-inlined query (no UDF call overhead at all,
    unlike Python UDFs).  A parameterized LIMIT inside a SQL table
    function is rejected as unfoldable (probed); WHERE predicates on
    the parameter are the supported shape."""
    from ..sql import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN p >= 250000 THEN 'premium'
                    WHEN p >= 100000 THEN 'mid'
                    ELSE 'base' END
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION hot_orders(threshold DOUBLE)
        RETURNS TABLE(o_orderkey BIGINT, o_totalprice DOUBLE)
        RETURN SELECT o_orderkey, o_totalprice
               FROM orders WHERE o_totalprice > threshold
        """
    )
    return spark.sql(
        """
        SELECT price_band(o_totalprice) AS band,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM hot_orders(50000.0)
        GROUP BY 1
        """
    )


# DuckDB mirror of sql_listagg_nations: string_agg is listagg's
# standard-SQL twin; both engines order inside the aggregate.
SQL_LISTAGG_ORACLE = """
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
"""


@register("sql_listagg_nations", SQL_LISTAGG_ORACLE)
def sql_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] listagg (Spark 4.0) with WITHIN GROUP ordered
    concatenation — the ordered string-fold aggregate (ISO/IEC
    9075-2:2023); deterministic output because the order is part of
    the aggregate, not the input partitioning."""
    from ..sql import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.r_name AS region,
               listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name)
                   AS nations,
               COUNT(*) AS n_nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
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
