"""Round-11 additions: the remaining Spark-4 public-API surfaces with
no registry query (round-10 verdict #7) — ``DataFrame.transpose``, the
``VARIANT_EXPLODE`` lateral table-valued generator, and lateral column
aliases in SELECT.

In-repo oracle parity: ``tests/test_round11.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import load_table
from ._base import register

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
    from ..sql import register_views

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
