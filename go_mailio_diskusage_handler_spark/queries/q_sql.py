"""SQL family (``sql_``): textual ``spark.sql`` over the views
``sql.py`` registers: the TPC-H query shapes, recursive and lateral
SQL, SQL scripting, parameterized SQL and ``IDENTIFIER``, and the
pipe syntax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sql as sql_surface
from ..sources.tables import load_table
from ..sql import register_views
from ._base import register


@register("sql_pricing_summary", sql_surface.PRICING_SUMMARY_SQL)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape via spark.sql — the oracle IS the query text
    (one ANSI string, two engines)."""
    return sql_surface.pricing_summary(spark, sf_dir)


@register("sql_shipping_priority", sql_surface.SHIPPING_PRIORITY_SQL)
def sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape via spark.sql (broadcast dims, exact-decimal
    revenue)."""
    return sql_surface.shipping_priority(spark, sf_dir)


@register("sql_order_priority", sql_surface.ORDER_PRIORITY_SQL)
def sql_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → left-semi join
    (sql.order_priority_counts)."""
    return sql_surface.order_priority_counts(spark, sf_dir)


@register("sql_large_orders", sql_surface.LARGE_ORDERS_SQL)
def sql_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: GROUP BY + HAVING (sql.large_orders)."""
    return sql_surface.large_orders(spark, sf_dir)


@register("sql_local_supplier_volume", sql_surface.LOCAL_SUPPLIER_VOLUME_SQL)
def sql_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape via spark.sql (sql.local_supplier_volume)."""
    return sql_surface.local_supplier_volume(spark, sf_dir)


@register("sql_correlated_above_avg", sql_surface.CORRELATED_ABOVE_AVG_SQL)
def sql_correlated_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated by Catalyst into
    agg + join (sql.correlated_above_avg)."""
    return sql_surface.correlated_above_avg(spark, sf_dir)


@register("sql_grouping_sets", sql_surface.GROUPING_SETS_SQL)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over orders — one Expand, one shuffle, four
    groupings (see sql.grouping_sets_revenue)."""
    return sql_surface.grouping_sets_revenue(spark, sf_dir)


@register("sql_customer_distribution", sql_surface.CUSTOMER_DISTRIBUTION_SQL)
def sql_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation
    (sql.customer_distribution)."""
    return sql_surface.customer_distribution(spark, sf_dir)


@register("sql_returned_revenue", sql_surface.RETURNED_REVENUE_SQL)
def sql_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: pushed-down returnflag filter, broadcast
    nation, exact-decimal revenue, top-20 via TakeOrderedAndProject
    (sql.returned_revenue)."""
    return sql_surface.returned_revenue(spark, sf_dir)


@register("sql_sales_opportunity", sql_surface.GLOBAL_SALES_OPPORTUNITY_SQL)
def sql_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-AVG subquery (1-row broadcast) + NOT
    EXISTS → left anti join (sql.global_sales_opportunity)."""
    return sql_surface.global_sales_opportunity(spark, sf_dir)


@register("sql_shipping_modes", sql_surface.SHIPPING_MODES_SQL)
def sql_shipping_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation — both CASE counters
    from ONE pass (sql.shipping_modes)."""
    return sql_surface.shipping_modes(spark, sf_dir)


@register("sql_promo_revenue", sql_surface.PROMO_REVENUE_SQL)
def sql_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional exact-decimal sums, one
    double division (sql.promo_revenue)."""
    return sql_surface.promo_revenue(spark, sf_dir)


@register("sql_top_supplier", sql_surface.TOP_SUPPLIER_SQL)
def sql_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: max-revenue supplier via scalar subquery over
    a shared CTE; exact-decimal revenue makes `= MAX` engine-safe
    (sql.top_supplier)."""
    return sql_surface.top_supplier(spark, sf_dir)


@register("sql_small_qty_revenue", sql_surface.SMALL_QTY_REVENUE_SQL)
def sql_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part AVG threshold, decorrelated
    by Catalyst into aggregate-then-join (sql.small_qty_revenue)."""
    return sql_surface.small_qty_revenue(spark, sf_dir)


@register("sql_waiting_suppliers", sql_surface.WAITING_SUPPLIERS_SQL)
def sql_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS self-joins with a
    correlated non-equi late predicate (sql.waiting_suppliers)."""
    return sql_surface.waiting_suppliers(spark, sf_dir)


@register("sql_nation_volume", sql_surface.NATION_VOLUME_SQL)
def sql_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-role nation dimension, bilateral volume
    (sql.nation_volume)."""
    return sql_surface.nation_volume(spark, sf_dir)


@register("sql_market_share", sql_surface.MARKET_SHARE_SQL)
def sql_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-aggregation market share over a
    7-table star (sql.market_share)."""
    return sql_surface.market_share(spark, sf_dir)


@register("sql_forecast_revenue", sql_surface.FORECAST_REVENUE_SQL)
def sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure pushed-down scan-filter-aggregate
    (sql.forecast_revenue)."""
    return sql_surface.forecast_revenue(spark, sf_dir)


@register("sql_bracket_revenue", sql_surface.BRACKET_REVENUE_SQL)
def sql_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive brackets, common-conjunct
    extraction (sql.bracket_revenue)."""
    return sql_surface.bracket_revenue(spark, sf_dir)


@register("sql_important_nations", sql_surface.IMPORTANT_NATIONS_SQL)
def sql_important_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING vs uncorrelated scalar subquery
    (sql.important_nations)."""
    return sql_surface.important_nations(spark, sf_dir)


@register("sql_best_supplier", sql_surface.BEST_SUPPLIER_SQL)
def sql_best_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated-MAX supplier per part
    (sql.best_supplier)."""
    return sql_surface.best_supplier(spark, sf_dir)


@register("sql_part_supplier_counts", sql_surface.PART_SUPPLIER_COUNTS_SQL)
def sql_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct counts with a NOT IN blacklist
    (sql.part_supplier_counts)."""
    return sql_surface.part_supplier_counts(spark, sf_dir)


@register("sql_excess_capacity", sql_surface.EXCESS_CAPACITY_SQL)
def sql_excess_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: dominant widget-part shippers via nested
    aggregation + semi join (sql.excess_capacity)."""
    return sql_surface.excess_capacity(spark, sf_dir)


@register("sql_recursive_spine", sql_surface.RECURSIVE_SPINE_SQL)
def sql_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] WITH RECURSIVE month spine + zero-filled monthly revenue
    (sql.recursive_spine_revenue)."""
    return sql_surface.recursive_spine_revenue(spark, sf_dir)


@register("sql_lateral_topn", sql_surface.LATERAL_TOPN_SQL)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Correlated LATERAL top-N per customer
    (sql.lateral_topn_orders)."""
    return sql_surface.lateral_topn_orders(spark, sf_dir)


@register("sql_group_by_all", sql_surface.GROUP_BY_ALL_SQL)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GROUP BY ALL / ORDER BY ALL shorthand surface
    (sql.group_by_all_revenue)."""
    return sql_surface.group_by_all_revenue(spark, sf_dir)


# Plain ANSI join both engines agree on; the runtime-filter story is
# plan-level, demonstrated (and pinned) by tests/test_round8.py.
BLOOM_PROBE_SQL = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 250000
    GROUP BY l_returnflag
"""


@register("sql_bloom_probe_revenue", BLOOM_PROBE_SQL)
def sql_bloom_probe_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Selective-dimension probe join — the decontamination
    shape (tiny filtered key set pruning a huge fact scan) stated so
    Spark's runtime row-level filtering applies: when the filtered
    creation side is under ``runtime.bloomFilter.creationSideThreshold``
    and the probe side's scan is large enough, the optimizer injects a
    ``BloomFilterAggregate`` on the orders slice and a
    ``might_contain`` predicate INTO the lineitem scan, cutting the
    shuffled probe volume before the join — exactly what a 100 TB
    decontam pass needs when the dim is too big to broadcast but far
    smaller than the fact.  At test scale the dim broadcasts and no
    filter is needed; tests/test_round8.py forces the shuffle-join
    regime (thresholds save/restored) and asserts the injection.

    Values are threshold-free across engines: COUNT is exact and the
    revenue sum is rounded AFTER aggregation.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 250000)
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# ANSI equivalent of the Spark SQL script below: the threshold CTE
# replaces the script variable.  MAX/2 is order-insensitive exact
# double arithmetic, so the bracket boundary cannot split across
# engines the way an AVG (fold-order-dependent) could.
SCRIPTING_THRESHOLD_SQL = """
    WITH t AS (SELECT MAX(o_totalprice) / 2 AS thr FROM orders)
    SELECT CASE WHEN o_totalprice > thr THEN 'high' ELSE 'low' END
               AS bracket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders, t
    GROUP BY bracket
"""


@register("sql_scripting_threshold", SCRIPTING_THRESHOLD_SQL)
def sql_scripting_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Spark 4 SQL scripting (BEGIN/END): DECLARE a script
    variable, SET it from a scalar subquery over the data, then use it
    in the final statement — the procedural-SQL surface (multi-step
    parameterized reports without a Python driver loop).  The script
    compiles to ordinary Catalyst plans; the variable is resolved to a
    literal before the final SELECT optimizes, so filter pushdown and
    codegen see a constant, not a correlated subquery."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        BEGIN
          DECLARE thr DOUBLE;
          SET thr = (SELECT MAX(o_totalprice) / 2 FROM orders);
          SELECT CASE WHEN o_totalprice > thr THEN 'high' ELSE 'low' END
                     AS bracket,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 ROUND(SUM(o_totalprice), 2) AS revenue
          FROM orders GROUP BY bracket;
        END
        """
    )


# DuckDB mirror of sql.parameterized_revenue with the bound values
# inlined textually (parse-time binding makes the Spark plan identical
# to this literal form; DuckDB has no IDENTIFIER clause to mirror).
PARAMETERIZED_REVENUE_ORACLE_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_totalprice > 100000.0
    GROUP BY o_orderpriority
"""


@register("sql_parameterized_revenue", PARAMETERIZED_REVENUE_ORACLE_SQL)
def sql_parameterized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Parameterized SQL + IDENTIFIER clause: named :marker args
    bound as typed literals at parse time (sql.py:parameterized_revenue)."""
    from .. import sql as sqlmod

    return sqlmod.parameterized_revenue(spark, sf_dir)


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


# DuckDB mirror of sql_lateral_alias_margin: DuckDB has supported
# reusing SELECT-list aliases in later expressions since 0.8, so the
# oracle text is the Spark text verbatim — the surface under test is
# Spark 4 resolving the lateral references (net -> est_tax -> gross)
# at analysis time into the expanded expressions, keeping the whole
# chain inside one whole-stage-codegen hash aggregate.
SQL_LATERAL_ALIAS_ORACLE = """
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net,
           ROUND(net * 0.07, 2) AS est_tax,
           ROUND(net + est_tax, 2) AS gross
    FROM lineitem GROUP BY l_returnflag
"""


@register("sql_lateral_alias_margin", SQL_LATERAL_ALIAS_ORACLE)
def sql_lateral_alias_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Lateral column aliases (Spark 3.4+/4.x): a SELECT-list
    alias referenced by the next expressions in the same list
    (net -> est_tax -> gross), the ISO 9075 generalization Spark
    resolves by inline expansion — one hash aggregate, no self-join,
    no subquery.  Scale: single map-side-combined groupBy on a 3-value
    key; the alias chain adds zero plan nodes."""
    from ..sql import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net,
               ROUND(net * 0.07, 2) AS est_tax,
               ROUND(net + est_tax, 2) AS gross
        FROM lineitem GROUP BY l_returnflag
        """
    )


# DuckDB mirror of sql_pipe_priority_revenue: the same relational
# program in classic clause order — WHERE before the aggregate, the
# post-aggregate pipe filter as HAVING.
SQL_PIPE_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    HAVING COUNT(*) >= 50
"""


@register("sql_pipe_priority_revenue", SQL_PIPE_ORACLE)
def sql_pipe_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SQL pipe syntax (Spark 4.0, SPARK-49555): the query as a
    top-to-bottom operator pipeline — FROM |> WHERE |> AGGREGATE
    |> WHERE — where each |> stage consumes the previous stage's
    table, so the second WHERE is the post-aggregate filter classic
    SQL spells HAVING.  Pure parser surface: Catalyst resolves it to
    the identical plan as the clause-ordered form (filter pushed to
    the scan, one hash aggregate), which is what makes the syntax
    free at any scale."""
    from ..sql import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        FROM orders
        |> WHERE o_orderstatus = 'F'
        |> AGGREGATE COUNT(*) AS n_orders,
                     ROUND(SUM(o_totalprice), 2) AS revenue
           GROUP BY o_orderpriority
        |> WHERE n_orders >= 50
        """
    )
