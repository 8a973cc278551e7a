"""Relational family: joins (equi, semi, anti, range, bucketed),
windows, set operations, rollup / cube / pivot, exact and approximate
quantiles, profiling and statistics, layout planning, and graph
ranking.  The name prefixes it owns are listed in ``queries.FAMILY``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import core, dq, relational
from ..sources import bucketing, compaction
from ..sources.tables import load_table
from ._base import register, register_texts
from .q_du import DU_CORE_SQL
from .q_udf import DIRECTION_CHANGES_SQL


@register(
    "topk_addresses",
    f"""
    SELECT * FROM ({DU_CORE_SQL})
    ORDER BY size_bytes DESC, address ASC LIMIT 10
    """,
)
def topk_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k users by usage → TakeOrderedAndProject (no global sort)."""
    inv = core.inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    return relational.top_k_addresses(core.disk_usage(inv))


register_texts(__name__, {
    "window_top_orders": """
    SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        FROM orders
    ) WHERE rank <= 3
    """,
    "window_running_total": """
    SELECT o_custkey, o_orderkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
    # Every dimension broadcasts: the fact never shuffles for a join.
    "join_revenue_by_region": """
    SELECT r_name,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(*) AS order_count
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    "anti_customers_without_orders": """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND year(o_orderdate) = 1998
    )
    """,
})


@register(
    "setop_lapsed_customers",
    """
    SELECT o_custkey AS lapsed_custkey FROM orders
    WHERE o_orderdate < TIMESTAMP '1999-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    """,
)
def setop_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.lapsed_customers(load_table(spark, sf_dir, "orders"), "1999-01-01")


register_texts(__name__, {
    "rollup_order_stats": """
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           COUNT(*) AS order_count
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "distinct_customers_per_status": """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS distinct_customers
    FROM orders GROUP BY o_orderstatus
    """,
})


# Sketch estimates are engine-specific, so each query emits a
# deterministic invariant (exact value + within-tolerance boolean) and
# the oracle recomputes the exact side with a constant-true bound.
@register(
    "approx_distinct_customers",
    """
    SELECT COUNT(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS within_tol
    FROM orders
    """,
)
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.approx_distinct_customers(load_table(spark, sf_dir, "orders"))


@register(
    "approx_order_percentiles",
    """
    SELECT ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99_exact,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM orders
    """,
)
def approx_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK quantile sketch vs exact percentiles as a hashable invariant."""
    return relational.approx_order_percentiles(load_table(spark, sf_dir, "orders"))


@register(
    "approx_top_event_types",
    """
    SELECT event_type, n_events, TRUE AS sketch_exact
    FROM (SELECT event_type, COUNT(*) AS n_events,
                 ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS rk
          FROM events GROUP BY event_type)
    WHERE rk <= 5
    """,
)
def approx_top_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k heavy-hitter sketch vs the exact top-k as a
    hashable invariant (sketch exact at fixture cardinalities)."""
    return relational.approx_top_event_types(load_table(spark, sf_dir, "events"))


@register(
    "pivot_status_revenue",
    """
    SELECT o_orderpriority,
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS "F",
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS "O",
           ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS "P"
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pivot_revenue(load_table(spark, sf_dir, "orders"))


@register(
    "percentile_order_value",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.95), 2) AS p95,
           ROUND(AVG(o_totalprice), 2) AS mean_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentile_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.order_value_percentiles(load_table(spark, sf_dir, "orders"))


@register(
    "cube_lineitem_flags",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS row_count,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.cube_lineitem_flags(load_table(spark, sf_dir, "lineitem"))


@register(
    "salted_event_totals",
    """
    SELECT event_type,
           COUNT(*) AS event_count,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY event_type
    """,
)
def salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the skewed event_type key —
    result identical to the direct GROUP BY (the oracle)."""
    return relational.salted_event_totals(load_table(spark, sf_dir, "events"))


register_texts(__name__, {
    "semi_customers_with_orders": """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE year(o_orderdate) = 1995)
    """,
    "part_brand_stats": """
    SELECT p_brand,
           COUNT(*) AS part_count,
           ROUND(AVG(p_retailprice), 2) AS avg_retail,
           MIN(p_size) AS min_size,
           MAX(p_size) AS max_size
    FROM part GROUP BY p_brand
    """,
    "supplier_nation_balance": """
    SELECT n_name,
           COUNT(*) AS supplier_count,
           ROUND(SUM(s_acctbal), 2) AS total_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    # TPC-H Q9 shape: part, supplier and nation all broadcast, so the
    # fact streams through with no join shuffle; the only exchange is
    # the final aggregation, after a partial one.
    "star_profit_by_nation_brand": """
    SELECT n_name, p_brand,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS line_count
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name, p_brand
    """,
    "segment_customer_value": """
    SELECT c_mktsegment,
           COUNT(*) AS customer_count,
           ROUND(AVG(c_acctbal), 2) AS avg_acctbal,
           ROUND(SUM(c_acctbal), 2) AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
    "setop_retained_customers": """
    SELECT o_custkey AS retained_custkey FROM orders WHERE o_orderdate < '1998-01-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate >= '1998-01-01'
    """,
})


ORDER_GAPS_SQL = """
    SELECT o_custkey,
           o_orderkey,
           COALESCE(date_diff('day', lag(o_orderdate)  OVER w, o_orderdate), -1)
               AS days_since_prev,
           COALESCE(date_diff('day', o_orderdate, lead(o_orderdate) OVER w), -1)
               AS days_until_next
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_order_gaps", ORDER_GAPS_SQL)
def window_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD inter-order gaps per customer (relational.order_gaps)."""
    return relational.order_gaps(load_table(spark, sf_dir, "orders"))


UNPIVOT_MEASURES_SQL = """
    WITH u AS (
        SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT measure,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(val AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_val,
           ROUND(MIN(val), 4) AS min_val,
           ROUND(MAX(val), 4) AS max_val
    FROM u GROUP BY measure
"""


@register("unpivot_lineitem_measures", UNPIVOT_MEASURES_SQL)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt + per-measure stats (relational.unpivot_lineitem_measures)."""
    return relational.unpivot_lineitem_measures(load_table(spark, sf_dir, "lineitem"))


MOVING_SPEND_SQL = """
    SELECT o_custkey,
           o_orderkey,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
                    PARTITION BY o_custkey
                    ORDER BY date_diff('day', DATE '1990-01-01', o_orderdate)
                    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW), 2)
                AS DOUBLE) AS trailing_30d_spend
    FROM orders
"""


@register("window_moving_spend", MOVING_SPEND_SQL)
def window_moving_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day RANGE-frame spend per customer
    (relational.moving_monthly_spend)."""
    return relational.moving_monthly_spend(load_table(spark, sf_dir, "orders"))


#: Oracle states the same bands as relational.PRICE_BANDS — keep in sync.
RANGE_JOIN_BANDS_SQL = """
    SELECT band,
           COUNT(*) AS order_count,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue
    FROM orders
    JOIN (VALUES ('low',       0.0, 100000.0),
                 ('mid',  100000.0, 250000.0),
                 ('high', 250000.0, 600000.0)) AS bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
"""


@register("range_join_price_bands", RANGE_JOIN_BANDS_SQL)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via grid bucketization — interval predicate turned
    into an equi-join (relational.price_band_revenue)."""
    return relational.price_band_revenue(load_table(spark, sf_dir, "orders"))


register_texts(__name__, {
    "join_spend_reconcile": """
    WITH a AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend_early
               FROM orders WHERE o_orderdate < DATE '1997-01-01'
               GROUP BY o_custkey),
    b AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS spend_late
          FROM orders WHERE o_orderdate >= DATE '1997-01-01'
          GROUP BY o_custkey)
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS custkey,
           COALESCE(a.spend_early, 0) AS spend_early,
           COALESCE(b.spend_late, 0) AS spend_late,
           CASE WHEN a.o_custkey IS NULL THEN 'late_only'
                WHEN b.o_custkey IS NULL THEN 'early_only'
                ELSE 'both' END AS presence
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
})


SPEND_TREND_SQL = """
    WITH s AS (
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               SUM(date_diff('day', DATE '1992-01-01',
                             CAST(o_orderdate AS DATE))) AS sx,
               SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sy,
               SUM(CAST(date_diff('day', DATE '1992-01-01',
                                  CAST(o_orderdate AS DATE))
                        AS DECIMAL(12,0))
                   * CAST(o_totalprice AS DECIMAL(12,2))) AS sxy,
               SUM(CAST(date_diff('day', DATE '1992-01-01',
                                  CAST(o_orderdate AS DATE)) AS BIGINT)
                   * CAST(date_diff('day', DATE '1992-01-01',
                                    CAST(o_orderdate AS DATE)) AS BIGINT))
                   AS sxx
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, n_orders,
           ROUND(CAST(n_orders * sxy - sx * sy AS DOUBLE)
                 / CAST(n_orders * sxx - sx * sx AS DOUBLE), 6) AS spend_slope
    FROM s
    WHERE n_orders >= 5 AND CAST(n_orders * sxx - sx * sx AS DOUBLE) != 0
"""


@register("trend_customer_spend", SPEND_TREND_SQL)
def trend_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares spend slope per customer from one pass of exact
    sufficient statistics (relational.customer_spend_trend)."""
    return relational.customer_spend_trend(load_table(spark, sf_dir, "orders"))


PART_AFFINITY_SQL = """
    WITH ot AS (
        SELECT DISTINCT l_orderkey, p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
    )
    SELECT a.p_type AS type_a, b.p_type AS type_b, COUNT(*) AS n_orders
    FROM ot a JOIN ot b
      ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
    GROUP BY type_a, type_b
    ORDER BY n_orders DESC, type_a ASC, type_b ASC
    LIMIT 20
"""


register_texts(__name__, {
    "part_type_affinity": PART_AFFINITY_SQL,
})


SEGMENT_SPEND_RANKS_SQL = """
    WITH spend AS (
        SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spend
        FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey AS custkey,
           c_mktsegment AS segment,
           total_spend,
           CAST(NTILE(10) OVER w AS INTEGER) AS spend_decile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM spend JOIN customer ON o_custkey = c_custkey
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY total_spend DESC, c_custkey ASC)
"""


register_texts(__name__, {
    "window_segment_deciles": SEGMENT_SPEND_RANKS_SQL,
})


# [EXT] Robust per-group outlier stats: exact median + MAD + 3-MAD
# outlier counts per order priority (percentile ≡ quantile_cont —
# both engines interpolate linearly over doubles).
MAD_OUTLIERS_SQL = """
    WITH med AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
                 FROM orders GROUP BY o_orderpriority),
    mad AS (SELECT o.o_orderpriority,
                   any_value(med) AS med,
                   quantile_cont(abs(o.o_totalprice - med), 0.5) AS mad
            FROM orders o JOIN med USING (o_orderpriority)
            GROUP BY o.o_orderpriority)
    SELECT o.o_orderpriority,
           ROUND(any_value(med), 2) AS median_price,
           ROUND(any_value(mad), 2) AS mad_price,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN abs(o.o_totalprice - med) > 3 * mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o JOIN mad USING (o_orderpriority)
    GROUP BY o.o_orderpriority
"""


@register("percentile_mad_outliers", MAD_OUTLIERS_SQL)
def percentile_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Median/MAD robust outlier stats
    (operators/relational.py:mad_outliers)."""
    return relational.mad_outliers(load_table(spark, sf_dir, "orders"))


# [EXT] Bucketed co-located join: both sides written bucketed+sorted
# by custkey, merge-joined with zero exchanges (plan-asserted in
# tests); the oracle checks the semantic result — a plain
# join+aggregate.
BUCKETED_JOIN_SQL = """
    SELECT c_nationkey,
           ROUND(SUM(o_totalprice), 2) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
"""


@register("join_bucketed_spend", BUCKETED_JOIN_SQL)
def join_bucketed_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Shuffle-free bucketed fact join
    (sources/bucketing.py:bucketed_spend_by_nation)."""
    return bucketing.bucketed_spend_by_nation(
        spark,
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


# [EXT] first_value / nth_value / last_value over a full-partition
# frame (explicit UNBOUNDED FOLLOWING — the default frame trap).
WINDOW_FIRST_LAST_SQL = """
    SELECT DISTINCT o_custkey,
           ROUND(first_value(o_totalprice) OVER w, 2) AS first_price,
           ROUND(coalesce(nth_value(o_totalprice, 2) OVER w,
                          first_value(o_totalprice) OVER w), 2) AS second_price,
           ROUND(last_value(o_totalprice) OVER w, 2) AS latest_price,
           ROUND(last_value(o_totalprice) OVER w
                 - first_value(o_totalprice) OVER w, 2) AS price_drift
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_first_last", WINDOW_FIRST_LAST_SQL)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] first/nth/last_value window family
    (operators/relational.py:first_last_order_gap)."""
    return relational.first_last_order_gap(load_table(spark, sf_dir, "orders"))


# [EXT] Dense-calendar resample of daily revenue (gap days = 0).
DAILY_DENSE_SQL = """
    WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS lo,
                         CAST(max(o_orderdate) AS DATE) AS hi
                  FROM orders),
    days AS (SELECT CAST(unnest(generate_series(lo, hi,
                                INTERVAL 1 DAY)) AS DATE) AS day
             FROM span),
    daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                     ROUND(SUM(o_totalprice), 2) AS revenue,
                     COUNT(*) AS n_orders
              FROM orders GROUP BY day)
    SELECT strftime(days.day, '%Y-%m-%d') AS day,
           COALESCE(daily.revenue, 0.0) AS revenue,
           CAST(COALESCE(daily.n_orders, 0) AS BIGINT) AS n_orders
    FROM days LEFT JOIN daily USING (day)
"""


@register("trend_daily_dense", DAILY_DENSE_SQL)
def trend_daily_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Gap-filled daily revenue resample
    (operators/relational.py:daily_revenue_dense)."""
    return relational.daily_revenue_dense(load_table(spark, sf_dir, "orders"))


# [EXT] One-pass schema-driven profiler over orders.
PROFILE_ORDERS_SQL = """
    SELECT 'o_orderkey' AS column, CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_totalprice) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_orderdate) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT), COUNT(DISTINCT o_orderpriority) FROM orders
"""


@register("profile_orders", PROFILE_ORDERS_SQL)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Single-pass column profiler
    (operators/relational.py:profile_table)."""
    return relational.profile_table(load_table(spark, sf_dir, "orders"))


# [EXT] Week-over-week revenue change (lag on the calendar-bounded
# weekly aggregate; first week dropped — NULL pct would round-trip
# None-vs-NaN inconsistently).
TREND_WOW_SQL = """
    WITH weekly AS (SELECT strftime(date_trunc('week', o_orderdate),
                                    '%Y-%m-%d') AS week_start,
                           ROUND(SUM(o_totalprice), 2) AS revenue
                    FROM orders GROUP BY week_start)
    SELECT week_start, revenue,
           ROUND((revenue - prev) / prev * 100.0, 2) AS wow_pct
    FROM (SELECT *, lag(revenue) OVER (ORDER BY week_start) AS prev
          FROM weekly)
    WHERE prev IS NOT NULL
"""


@register("trend_weekly_wow", TREND_WOW_SQL)
def trend_weekly_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Week-over-week revenue deltas
    (operators/relational.py:weekly_revenue_wow)."""
    return relational.weekly_revenue_wow(load_table(spark, sf_dir, "orders"))


# [EXT] RFM quartile segmentation over the customer aggregate.
ORDERS_RFM_SQL = """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(max(o_orderdate) AS DATE) AS last_day,
               COUNT(*) AS frequency,
               ROUND(SUM(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey)
    SELECT o_custkey,
           strftime(last_day, '%Y-%m-%d') AS last_day,
           frequency, monetary,
           ntile(4) OVER (ORDER BY last_day DESC, o_custkey ASC) AS r_score,
           ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
           ntile(4) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_score
    FROM per_cust
"""


@register("segment_rfm", ORDERS_RFM_SQL)
def segment_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] RFM quartile segmentation
    (operators/relational.py:rfm_segments)."""
    return relational.rfm_segments(load_table(spark, sf_dir, "orders"))


# [EXT] Association-rule lift/confidence over type co-occurrence.
PART_LIFT_SQL = """
    WITH order_types AS (
        SELECT DISTINCT l_orderkey, p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey),
    marg AS (SELECT p_type, COUNT(*) AS n_type
             FROM order_types GROUP BY p_type),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM order_types),
    pairs AS (SELECT a.p_type AS type_a, b.p_type AS type_b,
                     COUNT(*) AS n_pair
              FROM order_types a JOIN order_types b
                ON a.l_orderkey = b.l_orderkey AND a.p_type < b.p_type
              GROUP BY type_a, type_b
              HAVING COUNT(*) >= 20)
    SELECT type_a, type_b, n_pair,
           ROUND(n_pair * 1.0 / tot.n, 4) AS support,
           ROUND(GREATEST(n_pair * 1.0 / ma.n_type,
                          n_pair * 1.0 / mb.n_type), 4) AS confidence,
           ROUND(n_pair * 1.0 * tot.n / (ma.n_type * mb.n_type), 4) AS lift
    FROM pairs
    JOIN marg ma ON ma.p_type = pairs.type_a
    JOIN marg mb ON mb.p_type = pairs.type_b
    CROSS JOIN tot
"""


@register("part_affinity_lift", PART_LIFT_SQL)
def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Lift/confidence association rules
    (operators/relational.py:part_affinity_lift)."""
    return relational.part_affinity_lift(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


# DuckDB mirror of compaction.zone_map_skipping_audit: identical
# shard arithmetic (explicit multiplicative hash, integer division),
# written as a 3-way UNION ALL instead of the Spark-side explode.
ZONE_MAP_SKIPPING_SQL = """
    WITH z AS (
        SELECT 'date_partitioned' AS layout,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS shard,
               o_orderdate AS d
        FROM orders
        UNION ALL
        SELECT 'key_clustered', CAST(o_orderkey // 256 AS BIGINT), o_orderdate
        FROM orders
        UNION ALL
        SELECT 'hash_bucketed', CAST((o_orderkey * 2654435761) % 64 AS BIGINT),
               o_orderdate
        FROM orders),
    zm AS (SELECT layout, shard, MIN(d) AS dmin, MAX(d) AS dmax
           FROM z GROUP BY 1, 2)
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(CASE WHEN dmax >= TIMESTAMP '1997-03-01'
                          AND dmin <  TIMESTAMP '1997-04-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
    FROM zm GROUP BY 1
"""


@register("orders_zone_map_skipping", ZONE_MAP_SKIPPING_SQL)
def orders_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Zone-map skipping audit: per candidate physical layout
    (month-partitioned / key-clustered / hash-bucketed), how many
    shards a 1-month date predicate can prune on file min/max stats
    (sources/compaction.py:zone_map_skipping_audit)."""
    return compaction.zone_map_skipping_audit(load_table(spark, sf_dir, "orders"))


# Oracle: the two middle order statistics by global value rank — the
# engine must find the identical raw data values.  ROW_NUMBER tie
# order among equal values cannot change the VALUE at a rank.
EXACT_MEDIAN_SQL = """
    WITH r AS (
        SELECT o_totalprice AS v,
               ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
               COUNT(*) OVER () AS n
        FROM orders)
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           MIN(v) AS lo_mid,
           MAX(v) AS hi_mid,
           CAST(ROUND(MIN(v) * 100) + ROUND(MAX(v) * 100) AS BIGINT)
               AS median_cents_x2
    FROM r WHERE rn IN ((n + 1) // 2, n // 2 + 1)
"""


@register("percentile_exact_median", EXACT_MEDIAN_SQL)
def percentile_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact global median by histogram refinement — two
    bounded distributed passes plus one ~n/1024-row ranked slice; no
    global sort and no single-task full-table window
    (operators/relational.py:exact_global_median)."""
    return relational.exact_global_median(load_table(spark, sf_dir, "orders"))


# DuckDB mirror of dq.join_key_skew_report: same two-level aggregate
# per (table, key); SUM/GREATEST+CEIL cast BIGINT (DuckDB SUM is
# HUGEINT, CEIL is DOUBLE).
def _skew_sql(table: str, key: str) -> str:
    return f"""
    SELECT '{table}' AS table_name, '{key}' AS key_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           ROUND(SUM(c) * 1.0 / COUNT(*), 4) AS avg_key_rows,
           ROUND(MAX(c) * COUNT(*) * 1.0 / SUM(c), 4) AS skew_ratio,
           CAST(GREATEST(1, CEIL(MAX(c) / 100000.0)) AS BIGINT) AS salt_factor
    FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY {key})
    """


JOIN_SKEW_SQL = " UNION ALL ".join(
    [
        _skew_sql("orders", "o_custkey"),
        _skew_sql("lineitem", "l_orderkey"),
        _skew_sql("events", "user_id"),
    ]
)


@register("profile_join_skew", JOIN_SKEW_SQL)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Pre-flight join-key skew report: per-key cardinality
    profile + recommended salt factor for the engine's recurring join
    keys (operators/dq.py:join_key_skew_report)."""
    return dq.join_key_skew_report(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "events"),
    )


# DuckDB mirror of dq.join_cardinality_estimate over orders x events
# on custkey = user_id: same salted-md5 bucket/sign derivation, same
# 5-estimator median (odd count -> quantile_cont picks an exact
# element, so the BIGINT casts agree), counts CAST BIGINT.
AGMS_JOIN_EST_SQL = """
    WITH li AS (SELECT CAST(o_custkey AS VARCHAR) AS k, t.i
                FROM orders CROSS JOIN range(0, 5) t(i)),
    ri AS (SELECT CAST(user_id AS VARCHAR) AS k, t.i
           FROM events CROSS JOIN range(0, 5) t(i)),
    ls AS (SELECT i,
                  ('0x' || substr(md5(i || ':' || k), 1, 8))::BIGINT % 256
                      AS bucket,
                  SUM(1 - 2 * (('0x' || substr(md5(i || ':' || k), 9, 1))::BIGINT
                               % 2)) AS s_l
           FROM li GROUP BY 1, 2),
    rs AS (SELECT i,
                  ('0x' || substr(md5(i || ':' || k), 1, 8))::BIGINT % 256
                      AS bucket,
                  SUM(1 - 2 * (('0x' || substr(md5(i || ':' || k), 9, 1))::BIGINT
                               % 2)) AS s_r
           FROM ri GROUP BY 1, 2),
    per_est AS (SELECT i, SUM(s_l * s_r) AS est
                FROM ls JOIN rs USING (i, bucket) GROUP BY i),
    est AS (SELECT CAST(quantile_cont(est, 0.5) AS BIGINT) AS est_rows
            FROM per_est),
    lc AS (SELECT o_custkey AS k, COUNT(*) AS cl FROM orders GROUP BY 1),
    rc AS (SELECT user_id AS k, COUNT(*) AS cr FROM events GROUP BY 1),
    act AS (SELECT CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT) AS actual_rows
            FROM lc JOIN rc USING (k))
    SELECT actual_rows, est_rows,
           ROUND(ABS(est_rows - actual_rows) * 1.0
                 / GREATEST(actual_rows, 1), 4) AS rel_err
    FROM act CROSS JOIN est
"""


@register("join_cardinality_sketch", AGMS_JOIN_EST_SQL)
def join_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] AGMS sketch join-cardinality estimate (orders x events on
    custkey = user_id) vs the exact per-key-count answer
    (operators/dq.py:join_cardinality_estimate) — the CBO-style
    pre-join size probe."""
    return dq.join_cardinality_estimate(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        load_table(spark, sf_dir, "events"),
        "user_id",
    )


# DuckDB mirror of dq.sampled_group_estimate: identical md5-bucket
# sample predicate, identical scale-up, SUMs of counts CAST BIGINT.
AQP_SAMPLED_SQL = """
    WITH t AS (
        SELECT o_orderpriority, o_totalprice,
               (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT
                % 16 = 0) AS in_sample
        FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           ROUND(SUM(o_totalprice), 2) AS exact_sum,
           ROUND(SUM(CASE WHEN in_sample THEN o_totalprice END) * 16, 2)
               AS est_sum,
           ROUND(ABS(SUM(CASE WHEN in_sample THEN o_totalprice END) * 16
                     - SUM(o_totalprice)) / SUM(o_totalprice), 4) AS rel_err
    FROM t GROUP BY 1
"""


@register("aqp_sampled_revenue", AQP_SAMPLED_SQL)
def aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BlinkDB-style AQP: per-priority revenue estimated from a
    deterministic 1/16 md5-bucket sample, reported against the exact
    answer in the same pass (operators/dq.py:sampled_group_estimate)."""
    return dq.sampled_group_estimate(load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# setop_churned_buyers_except_all — EXCEPT ALL multiset semantics
# ---------------------------------------------------------------------------

# EXCEPT ALL is ISO multiset difference in both engines: a customer
# with 5 early and 2 late orders shows 3 here and vanishes from the
# distinct EXCEPT of `setop_lapsed_customers`.  Spark plans it as one
# hash aggregate of per-key count deltas: one shuffle on the key, no
# join.
SETOP_EXCEPT_ALL_ORACLE = """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_excess FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1997
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1998
    ) GROUP BY o_custkey
"""


register_texts(__name__, {
    "setop_churned_buyers_except_all": SETOP_EXCEPT_ALL_ORACLE,
})


# ---------------------------------------------------------------------------
# window_paged_orders — LIMIT/OFFSET pagination
# ---------------------------------------------------------------------------
# Page 3 of the price-ranked orders.  The o_orderkey tiebreak makes the
# order total, so a page is stable across runs and partitionings.
# Catalyst folds offset+limit into a per-partition top-(offset+limit):
# no global sort.  Deep offsets should switch to keyset predicates
# (WHERE price < last_seen).
PAGED_ORDERS_ORACLE = """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 5 OFFSET 10
"""


register_texts(__name__, {
    "window_paged_orders": PAGED_ORDERS_ORACLE,
})


# ---------------------------------------------------------------------------
# stat_crosstab_priority — df.stat.crosstab contingency table
# ---------------------------------------------------------------------------

# Spark's crosstab names the first column "col1_col2" and one column
# per distinct col2 value observed in the DATA, while this oracle
# hard-codes the TPC-H o_orderstatus domain {F, O, P} as columns — so
# the oracle is correct exactly when the fixture realizes all three
# statuses.  That domain assumption is pinned as an explicit fixture
# contract (ADVICE r11) by
# tests/test_advice_r11.py::test_crosstab_status_domain_contract,
# which asserts SELECT DISTINCT o_orderstatus == {F,O,P} at every
# test scale; a fixture where one status is absent fails THERE with a
# data-contract message instead of as an opaque column-set mismatch.
STAT_CROSSTAB_ORACLE = """
    SELECT o_orderpriority AS o_orderpriority_o_orderstatus,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS F,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS O,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS P
    FROM orders GROUP BY o_orderpriority
"""


@register("stat_crosstab_priority", STAT_CROSSTAB_ORACLE)
def stat_crosstab_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``df.stat.crosstab`` — the pairwise contingency table
    (priority × status counts), the categorical-profiling primitive
    behind chi-square feature checks.

    Scale: crosstab aggregates (col1, col2) pair counts distributed
    (one shuffle on the pair key) and pivots the BOUNDED col2 domain
    driver-side — safe exactly when |col2 domain| is small (3 here;
    Spark caps at 1e4 distinct).  High-cardinality pairs belong in the
    long-form groupBy instead (`distinct_customers_per_status`
    pattern)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.stat.crosstab("o_orderpriority", "o_orderstatus")


# ---------------------------------------------------------------------------
# graph_pagerank_brands — weighted PageRank in exact fixed-point arithmetic
# ---------------------------------------------------------------------------

# DuckDB mirror: the SAME three power iterations unrolled as chained
# CTEs.  Every operation is BIGINT arithmetic (// is integer division),
# so both engines produce bit-identical ranks — no float sum ever
# exists to depend on addition order.
GRAPH_PAGERANK_ORACLE = """
    WITH ot AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey),
    pairs AS (
        SELECT a.p_brand AS src, b.p_brand AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM ot a JOIN ot b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY src, dst),
    edges AS (
        SELECT src, dst, w FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst, w FROM pairs),
    outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY src),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM outw),
    r0 AS (SELECT src AS node, 1000000000 // n.n AS r9 FROM outw, n),
    r1 AS (
        SELECT e.dst AS node,
               150000000 // n.n
               + (85 * CAST(SUM((r.r9 * e.w) // o.ow) AS BIGINT)) // 100 AS r9
        FROM edges e JOIN r0 r ON e.src = r.node
                     JOIN outw o ON e.src = o.src, n
        GROUP BY e.dst, n.n),
    r2 AS (
        SELECT e.dst AS node,
               150000000 // n.n
               + (85 * CAST(SUM((r.r9 * e.w) // o.ow) AS BIGINT)) // 100 AS r9
        FROM edges e JOIN r1 r ON e.src = r.node
                     JOIN outw o ON e.src = o.src, n
        GROUP BY e.dst, n.n),
    r3 AS (
        SELECT e.dst AS node,
               150000000 // n.n
               + (85 * CAST(SUM((r.r9 * e.w) // o.ow) AS BIGINT)) // 100 AS r9
        FROM edges e JOIN r2 r ON e.src = r.node
                     JOIN outw o ON e.src = o.src, n
        GROUP BY e.dst, n.n)
    SELECT node AS p_brand, CAST(r9 AS BIGINT) AS rank_nano FROM r3
"""


@register("graph_pagerank_brands", GRAPH_PAGERANK_ORACLE)
def graph_pagerank_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Weighted PageRank over the part-brand co-occurrence graph
    (25 brands; 3 power iterations, damping 0.85) — the iterative-propagation
    class beside the label-propagation connected components
    (`dedup_clusters`): importance flows along weighted edges instead
    of labels flooding a component.

    Reproducibility design — EXACT FIXED-POINT ARITHMETIC: ranks are
    BIGINT nano-units and every step (teleport share, per-edge
    contribution, damping) is integer multiply/divide, so the result
    is bit-identical across engines, partitionings, AND cluster runs —
    a float PageRank's neighbor sums depend on addition order and
    drift at the last ulp per executor layout (the failure class the
    round-11 oracle hardening documents).  This is how production
    iterative jobs get run-to-run reproducibility.

    Scale: edges come from the order-bounded distinct self-join
    (`part_type_affinity`'s fence — ≤ C(brands, 2) pairs per order);
    each iteration is one |E|-row join + one integer aggregate, and
    the rank frame (bounded by the 25-value brand domain here, |V|
    generally) broadcasts; at billion-node scale the same plan
    shuffle-joins on node id.

    The three rounds are ONE lazy plan, so building the frame runs no
    job: |V| is a global-window count over the out-weight table,
    carried through the rounds as a column, and the teleport share is
    ``150000000 div max(n)``.  An empty graph yields zero rows by
    itself, as in the oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ot = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li["l_partkey"] == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a, b = ot.alias("a"), ot.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("src"), F.col("b.p_brand").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pairs.unionByName(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    contrib_src = edges.join(outw, "src")
    ranks = outw.select(
        F.col("src").alias("node"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),  # |V|
    ).selectExpr("node", "1000000000 div n AS r9", "n")
    step = "150000000 div max(n) + (85 * sum((r9 * w) div ow)) div 100"
    for _ in range(3):
        ranks = (
            contrib_src.join(ranks, F.col("src") == F.col("node"))
            .groupBy(F.col("dst"))
            .agg(F.expr(step).cast("long").alias("r9"), F.max("n").alias("n"))
            .select(F.col("dst").alias("node"), "r9", "n")
        )
    return ranks.select(
        F.col("node").alias("p_brand"), F.col("r9").alias("rank_nano")
    )


# ---------------------------------------------------------------------------
# window_direction_changes — built-in twin of udtf_table_arg_changes
# ---------------------------------------------------------------------------
# The same text as the UDTF query's oracle, run in built-in window
# functions: no Python node in the plan, the form a 100 TB run uses.
register_texts(__name__, {
    "window_direction_changes": DIRECTION_CHANGES_SQL,
})


# ---------------------------------------------------------------------------
# setop_repeat_buyers_intersect_all — INTERSECT ALL multiset semantics
# ---------------------------------------------------------------------------

# INTERSECT ALL is ISO multiset intersection in both engines — per
# key, min(multiplicity_early, multiplicity_late).  Spark plans it as
# one hash aggregate of per-key count pairs: one shuffle, no join.
SETOP_INTERSECT_ALL_ORACLE = """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_common FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1995
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1996
    ) GROUP BY o_custkey
"""


register_texts(__name__, {
    "setop_repeat_buyers_intersect_all": SETOP_INTERSECT_ALL_ORACLE,
})


# ---------------------------------------------------------------------------
# stat_linreg_normal_eq — closed-form least squares via moment sums
# ---------------------------------------------------------------------------

# ONE SQL text runs on BOTH engines (Spark over registered views,
# DuckDB over the oracle views), so the floating-point expression DAG
# is identical by construction.  Determinism layer by layer:
#   * every moment is a SUM of EXACT integers in DECIMAL(38,0) —
#     associativity-free, so shuffle/partition order cannot move a
#     bit (the y·y sum reaches ~2e18 and would overflow BIGINT at
#     sf0.1, hence decimal);
#   * the casts to DOUBLE are correctly rounded conversions of exact
#     decimal values;
#   * the Cramer solve / R² algebra below them is a fixed tree of
#     IEEE-correctly-rounded * / - ops on those doubles — identical
#     inputs + identical tree = identical bits in both engines (the
#     same argument as text_hash_classifier's algebraic sigmoid).
STAT_LINREG_SQL = """
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(l_linenumber AS DECIMAL(38,0))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,0)))
                  AS DOUBLE) AS sx11,
             CAST(SUM(CAST(l_quantity * l_linenumber AS DECIMAL(38,0)))
                  AS DOUBLE) AS sx12,
             CAST(SUM(CAST(l_linenumber * l_linenumber AS DECIMAL(38,0)))
                  AS DOUBLE) AS sx22,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS DECIMAL(38,0)))
                  AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * ROUND(l_extendedprice * 100)
                  AS DECIMAL(38,0))) AS DOUBLE) AS sx1y,
             CAST(SUM(CAST(l_linenumber * ROUND(l_extendedprice * 100)
                  AS DECIMAL(38,0))) AS DOUBLE) AS sx2y,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100)
                  * ROUND(l_extendedprice * 100) AS DECIMAL(38,0)))
                  AS DOUBLE) AS syy
      FROM lineitem),
    solved AS (
      SELECT n, sy, sx1y, sx2y, syy,
             (n * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx12 - sx11 * sx2)) AS det,
             (sy * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1y * sx22 - sx12 * sx2y)
              + sx2 * (sx1y * sx12 - sx11 * sx2y)) AS det0,
             (n * (sx1y * sx22 - sx12 * sx2y)
              - sy * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx2y - sx1y * sx2)) AS det1,
             (n * (sx11 * sx2y - sx1y * sx12)
              - sx1 * (sx1 * sx2y - sx1y * sx2)
              + sy * (sx1 * sx12 - sx11 * sx2)) AS det2
      FROM m)
    SELECT CAST(n AS BIGINT) AS n,
           (det0 / det) AS b0,
           (det1 / det) AS b1,
           (det2 / det) AS b2,
           ((syy - ((det0 / det) * sy + (det1 / det) * sx1y
                    + (det2 / det) * sx2y))
            / (syy - (sy * sy) / n)) AS frac_unexplained
    FROM solved
"""


register_texts(__name__, {
    "stat_linreg_normal_eq": STAT_LINREG_SQL,
})
