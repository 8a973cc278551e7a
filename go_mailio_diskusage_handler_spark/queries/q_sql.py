"""SQL family (``sql_``): textual ``spark.sql`` over the fixture temp
views that ``sources.tables.register_views`` binds: the TPC-H query
shapes, recursive and lateral SQL, SQL scripting, parameterized SQL
and ``IDENTIFIER``, and the pipe syntax.

The texts in the ``register_texts`` table below are each query's
Spark text and its DuckDB oracle at once (the rule is in ``_base``).
The queries after the table keep their own bodies: their Spark text
uses syntax DuckDB lacks, or the body must set session state.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, register_views
from ._base import register, register_texts

# Cross-engine float rule: SUM over double products differs between
# engines in the last ulp (summation order), which can cross a ROUND
# boundary (observed: a 1-cent revenue diff at sf0.01).  Money columns
# are exact 2-decimal values, so the texts cast the INPUTS to small
# decimals; decimal products and decimal SUM are exact and associative,
# so the aggregate is bit-identical on any engine, and only the final
# rounded result is cast back to DOUBLE.  Casting the product (double
# to decimal) would NOT work: the engines round that conversion
# differently.
register_texts(__name__, {
    # TPC-H Q1: the partial aggregate runs before the shuffle, as in the
    # DataFrame form.
    "sql_pricing_summary": """
    SELECT l_returnflag,
           l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE)                                             AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                          * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2)
                AS DOUBLE)                                             AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                   AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                              AS avg_price,
           ROUND(AVG(l_discount), 4)                                   AS avg_disc,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
""",
    # TPC-H Q3: customer and orders broadcast into the lineitem join.
    "sql_shipping_priority": """
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1998-03-15'
      AND l_shipdate  > DATE '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
""",
    # TPC-H Q4: Catalyst rewrites the correlated EXISTS to a LEFT SEMI join
    # on l_orderkey, one pass over each table instead of per-row probes.
    "sql_order_priority": """
    SELECT o_orderpriority,
           COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1997-01-01'
      AND o_orderdate <  DATE '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
""",
    # TPC-H Q18: HAVING is a filter above the final aggregate, so it runs on
    # the reduced group rows, with no exchange beyond the GROUP BY's own.
    "sql_large_orders": """
    SELECT c_custkey,
           o_orderkey,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY c_custkey, o_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 150
""",
    # TPC-H Q5: a 6-table star.  lineitem streams through broadcast joins
    # against every dimension; the customer-nation = supplier-nation
    # predicate is evaluated inside the supplier hash join, not by an extra
    # shuffle.
    "sql_local_supplier_volume": """
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= DATE '1997-01-01'
      AND o_orderdate <  DATE '1998-01-01'
    GROUP BY n_name
""",
    # Orders priced above 1.5x their customer's average.  Catalyst
    # decorrelates the scalar subquery into an aggregate plus an equi-join:
    # one extra aggregation on the join key, not O(rows) subquery probes.
    "sql_correlated_above_avg": """
    SELECT o.o_orderkey,
           o.o_custkey,
           o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > (SELECT 1.5 * AVG(o2.o_totalprice)
                            FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
""",
    # All four groupings in one Expand and one aggregation shuffle, where a
    # UNION ALL of GROUP BYs would scan four times.  GROUPING_ID tells real
    # NULL keys from rolled-up ones.
    "sql_grouping_sets": """
    SELECT o_orderstatus,
           o_orderpriority,
           GROUPING_ID(o_orderstatus, o_orderpriority)                 AS gid,
           COUNT(*)                                                    AS order_count,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                AS DOUBLE)                                             AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus),
                            (o_orderpriority),
                            ())
""",
    # TPC-H Q13: customers per order count.  The join must be OUTER:
    # zero-order customers are the point, and COUNT(o_orderkey) counts only
    # non-null keys.  The inner aggregate and the join both shuffle on
    # c_custkey, so AQE reuses one exchange; the outer GROUP BY runs over
    # the small histogram domain.
    "sql_customer_distribution": """
    SELECT order_count, COUNT(*) AS customer_count
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS order_count
        FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY order_count
""",
    # TPC-H Q10: top-20 customers by revenue lost to returns.  The
    # returnflag predicate pushes into the lineitem scan, nation broadcasts,
    # and the top-20 is TakeOrderedAndProject, not a global sort.
    "sql_returned_revenue": """
    SELECT c_custkey,
           c_name,
           n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue_lost
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_lost DESC, c_custkey ASC
    LIMIT 20
""",
    # TPC-H Q22: customers above the positive-balance average who never
    # ordered.  The scalar AVG compiles to a 1-row broadcast computed once,
    # and NOT EXISTS to a LEFT ANTI join on c_custkey.
    "sql_sales_opportunity": """
    SELECT n_name,
           COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                       WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
""",
    # TPC-H Q12: both CASE counters come out of one aggregation pass, where
    # a per-priority UNION would scan and join twice.
    "sql_shipping_modes": """
    SELECT l_returnflag AS ship_group,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1999-01-01'
    GROUP BY ship_group
""",
    # TPC-H Q14: promo share of revenue.  Both sums are exact decimals,
    # cast to DOUBLE only for the one division, so both engines divide the
    # same operands.  DECIMAL division would not be safe: the engines promote
    # the quotient's precision and scale differently.
    "sql_promo_revenue": """
    SELECT ROUND(100.0
           * CAST(SUM(CASE WHEN p_type = 'PROMO'
                           THEN CAST(l_extendedprice AS DECIMAL(12,2))
                                * (1 - CAST(l_discount AS DECIMAL(4,2)))
                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4)
        AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
""",
    # TPC-H Q15: the supplier(s) with the maximum quarterly revenue, via a
    # scalar subquery over a shared CTE; ties keep every maximal supplier,
    # as TPC-H does.  Exact-decimal revenue is what makes `= MAX(...)` safe
    # across engines: with a double sum, equality at the max would depend
    # on summation order.
    "sql_top_supplier": """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s_suppkey,
           s_name,
           CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    # TPC-H Q17: Catalyst decorrelates the per-part AVG into an
    # aggregate-then-join.  l_quantity holds small integers, so its SUM, and
    # with it AVG and 0.2 * AVG, are exact in any order on both engines.
    "sql_small_qty_revenue": """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0, 2)
                AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#4'
      AND l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
""",
    # TPC-H Q21: suppliers who were the only late shipper on a finished
    # multi-supplier order; "late" is shipped more than 90 days after the
    # order date, as the fixture has no receipt or commit dates.  EXISTS and
    # NOT EXISTS become a left-semi and a left-anti join on l_orderkey, the
    # key the main join already shuffles on, so AQE reuses the exchange.
    # s_name breaks ties at the LIMIT.
    "sql_waiting_suppliers": """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL '90' DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL '90' DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
""",
    # TPC-H Q7: nation joins twice, through supplier and through customer,
    # as two broadcasts of the 25-row table.  The date range pushes into
    # the lineitem scan.
    "sql_nation_volume": """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
    FROM (SELECT n1.n_name AS supp_nation,
                 n2.n_name AS cust_nation,
                 EXTRACT(YEAR FROM l_shipdate) AS l_year,
                 CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
            AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') shipping
    GROUP BY supp_nation, cust_nation, l_year
""",
    # TPC-H Q8: one nation's share of a region's PROMO-part volume per
    # year, over a 7-table star with nation in two roles.  Numerator and
    # denominator are exact decimal sums, divided as doubles: the engines'
    # decimal-division scale rules differ, double division does not.
    "sql_market_share": """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0.00 AS DECIMAL(12,2)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 4) AS mkt_share
    FROM (SELECT EXTRACT(YEAR FROM o_orderdate) AS o_year,
                 CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
                 n2.n_name AS supp_nation
          FROM part
          JOIN lineitem ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA'
            AND p_type = 'PROMO') all_nations
    GROUP BY o_year
""",
    # TPC-H Q6: scan-filter-aggregate, whose whole cost is the scan.  Every
    # predicate pushes to the parquet reader for row-group min/max skipping.
    "sql_forecast_revenue": """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * CAST(l_discount AS DECIMAL(4,2))), 2)
                AS DOUBLE) AS revenue_increase
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
""",
    # TPC-H Q19: disjunctive brackets over both join sides.  Catalyst must
    # extract each side's conjuncts from the OR, pushing the part-only
    # disjunction into the part scan and the quantity bounds into lineitem,
    # and still broadcast the filtered part side.
    "sql_bracket_revenue": """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
""",
    # TPC-H Q11 on supplier balances (the fixture has no partsupp): HAVING
    # against an uncorrelated scalar subquery, evaluated once as a 1-row
    # broadcast.  Exact decimals keep the threshold comparison
    # engine-stable.
    "sql_important_nations": """
    SELECT n_name,
           CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(12,2))), 2) AS DOUBLE)
               AS total_balance
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    HAVING SUM(CAST(s_acctbal AS DECIMAL(12,2)))
           > (SELECT SUM(CAST(s_acctbal AS DECIMAL(12,2))) * 0.05
              FROM supplier)
""",
    # TPC-H Q2 without partsupp: for each small part, the highest-balance
    # supplier(s) among those that shipped it.  Catalyst rewrites the
    # correlated MAX into a per-part aggregate joined back on (partkey,
    # balance); ties keep every maximal supplier.  Balances compare exactly:
    # no arithmetic touches them.
    "sql_best_supplier": """
    SELECT p_partkey, p_brand, s_suppkey, s_name,
           CAST(ROUND(s_acctbal, 2) AS DOUBLE) AS s_acctbal
    FROM part
    JOIN lineitem ON l_partkey = p_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE p_size <= 5
      AND s_acctbal = (SELECT MAX(s2.s_acctbal)
                       FROM supplier s2
                       JOIN lineitem l2 ON l2.l_suppkey = s2.s_suppkey
                       WHERE l2.l_partkey = p_partkey)
    GROUP BY p_partkey, p_brand, s_suppkey, s_name, s_acctbal
""",
    # TPC-H Q16 through lineitem: NOT IN plans as a null-aware anti join,
    # which keeps NOT IN's semantics even if the subquery yields a NULL.
    "sql_part_supplier_counts": """
    SELECT p_brand, p_type,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part
    JOIN lineitem ON l_partkey = p_partkey
    WHERE p_size BETWEEN 1 AND 25
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC
    LIMIT 20
""",
    # TPC-H Q20 without partsupp: suppliers shipping more than half of some
    # widget part's yearly volume (shipped share stands in for stock).  The
    # two aggregation levels share the l_partkey exchange, and IN becomes a
    # left-semi join to the broadcast supplier-nation pair.  `2 * qty >
    # total` stays in exact integer-valued doubles, so the 50% boundary
    # cannot split across engines.
    "sql_excess_capacity": """
    WITH shipped AS (
        SELECT l_suppkey, l_partkey, SUM(l_quantity) AS qty
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '%widget%'
          AND l_shipdate >= DATE '1996-01-01'
          AND l_shipdate <  DATE '1997-01-01'
        GROUP BY l_suppkey, l_partkey),
    tot AS (SELECT l_partkey, SUM(qty) AS total_qty
            FROM shipped GROUP BY l_partkey)
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT shipped.l_suppkey
        FROM shipped JOIN tot ON shipped.l_partkey = tot.l_partkey
        WHERE 2 * shipped.qty > tot.total_qty)
    ORDER BY s_name
""",
    # Each customer's top-2 orders as a correlated LATERAL subquery.
    # Catalyst decorrelates it into a partitioned rank window plus a join,
    # so orders is shuffled once, not scanned per customer.  o_orderkey
    # breaks ties at the LIMIT.
    "sql_lateral_topn": """
    SELECT c.c_custkey, o.o_orderkey,
           ROUND(o.o_totalprice, 2) AS o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
""",
    # GROUP BY ALL / ORDER BY ALL, which both engines parse natively; it
    # compiles to the hash aggregate an explicit column list would.
    "sql_group_by_all": """
    SELECT o_orderstatus, o_orderpriority,
           year(o_orderdate) AS order_year,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
""",
    # Lateral column aliases (Spark 3.4+, DuckDB 0.8+): net -> est_tax ->
    # gross reuse earlier SELECT-list aliases.  Spark expands them inline
    # at analysis time, so the chain adds no plan node: one
    # map-side-combined hash aggregate, no self-join, no subquery.
    "sql_lateral_alias_margin": """
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS net,
           ROUND(net * 0.07, 2) AS est_tax,
           ROUND(net + est_tax, 2) AS gross
    FROM lineitem GROUP BY l_returnflag
""",
})


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


# Spark 4's WITH RECURSIVE builds a month spine (UnionLoop) that is
# LEFT-joined to monthly revenue with zero-fill: the dense-calendar
# resample that relational.daily_revenue_dense builds with
# sequence() + explode, in ANSI SQL.  The spine spans the TPC-H order
# calendar, 1992-01 through 2001-12; o_orderdate ends in 1998, so the
# tail years exercise the zero-fill.
RECURSIVE_SPINE_SQL = """
    WITH RECURSIVE spine(m) AS (
        SELECT CAST('1992-01-01' AS DATE)
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM spine
        WHERE m < CAST('2001-12-01' AS DATE)
    ),
    rev AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                   ROUND(SUM(o_totalprice), 2) AS revenue,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1)
    SELECT year(m) AS y, month(m) AS mo,
           COALESCE(revenue, 0.0) AS revenue,
           COALESCE(n_orders, 0) AS n_orders
    FROM spine LEFT JOIN rev USING (m)
"""


@register("sql_recursive_spine", RECURSIVE_SPINE_SQL)
def sql_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] WITH RECURSIVE month spine + zero-filled monthly revenue.

    The 120-month spine is deeper than Spark's default recursion limit
    of 100 levels, and ``MAX RECURSION LEVEL`` is Spark-only syntax
    DuckDB rejects, so the body raises the session limit instead.
    Spark reads ``cteRecursionLevelLimit`` at EXECUTION time (probed on
    Spark 4.1: restoring it right after ``spark.sql()`` returns makes
    the caller's later ``.count()`` fail with
    RECURSION_LEVEL_LIMIT_EXCEEDED), so a lazy return cannot restore
    it.  The result is 120 rows at any scale, so it is materialized
    with an eager ``localCheckpoint``, which also keeps the recursion
    from re-executing, and the caller's limit is restored in a
    ``finally``."""
    register_views(spark, sf_dir)
    conf_key = "spark.sql.cteRecursionLevelLimit"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "130")
    try:
        return spark.sql(RECURSIVE_SPINE_SQL).localCheckpoint(eager=True)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)


PARAMETERIZED_REVENUE_SQL = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM IDENTIFIER(:tbl)
    WHERE o_orderdate >= :start_date
      AND o_totalprice > :min_price
    GROUP BY o_orderpriority
"""

# DuckDB mirror of PARAMETERIZED_REVENUE_SQL with the bound values
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
    """[EXT] Parameterized SQL (Spark 4): named ``:marker`` arguments
    bind through ``spark.sql(..., args=...)`` as typed literals, never
    string-spliced, and ``IDENTIFIER(:tbl)`` validates the table name
    as a name, so ``tbl="orders; DROP ..."`` cannot parse as SQL.
    Binding happens at PARSE time, so the plan equals the
    literal-inlined query's: the safety costs nothing at run time."""
    register_views(spark, sf_dir)
    return spark.sql(
        PARAMETERIZED_REVENUE_SQL,
        args={
            "tbl": "orders",
            "start_date": datetime.date(1995, 1, 1),
            "min_price": 100000.0,
        },
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
