"""Disk-usage family (``du_``, ``inventory_``): the reference
pipeline (SURVEY §2 O5-O12) over the inventory synthesized from
lineitem, its incremental, history and quota variants, and the
``INVENTORY_SQL`` / ``DU_CORE_SQL`` oracle fragments other families
build on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import core, dq
from ..sources.tables import load_table
from ._base import register


# ---------------------------------------------------------------------------
# Shared SQL fragment: the synthesized S3-inventory view over lineitem
# (mirrors operators.core.inventory_from_lineitem exactly).
# ---------------------------------------------------------------------------
INVENTORY_SQL = """
    SELECT CASE WHEN l_linenumber = 7 THEN CAST(l_orderkey AS VARCHAR)
                ELSE CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR)
           END AS key,
           l_extendedprice AS size
    FROM lineitem
"""


DU_CORE_SQL = f"""
    WITH inventory AS ({INVENTORY_SQL})
    SELECT split_part(key, '/', 1) AS address,
           ROUND(SUM(size), 2) AS size_bytes,
           COUNT(*) AS number_files
    FROM inventory
    WHERE len(string_split(key, '/')) >= 2
    GROUP BY address
"""


@register("du_core", DU_CORE_SQL)
def du_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O5-O8: project → derive address → guard → SUM/COUNT.

    See operators/core.py; parity with /root/reference/handler.go:203-252.
    """
    inv = core.inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    return core.disk_usage(inv)


@register(
    "du_lookup",
    f"SELECT * FROM ({DU_CORE_SQL}) WHERE address = '42'",
)
def du_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O11 GetDiskUsage: point lookup of one address."""
    inv = core.inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    return core.disk_usage_lookup(core.disk_usage(inv), "42")


@register(
    "du_multifile",
    f"""
    WITH inventory AS ({INVENTORY_SQL} UNION ALL {INVENTORY_SQL})
    SELECT split_part(key, '/', 1) AS address,
           ROUND(SUM(size), 2) AS size_bytes,
           COUNT(*) AS number_files
    FROM inventory
    WHERE len(string_split(key, '/')) >= 2
    GROUP BY address
    """,
)
def du_multifile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O12: aggregate ACROSS all manifest files in one pass.

    The reference's per-file loop overwrites prior aggregates (the §2
    last-file-wins trap, handler.go:231,252); this implements the
    documented intent (README.md:15-17) — one groupBy over the union
    of every file.  Modeled here as the same table scanned twice, i.e.
    a two-file manifest with identical contents.
    """
    li = load_table(spark, sf_dir, "lineitem")
    inv = core.inventory_from_lineitem(li.unionByName(li))
    return core.disk_usage(inv)


_INV_KEY_SQL = """CASE WHEN l_linenumber = 7 THEN CAST(l_orderkey AS VARCHAR)
                 ELSE CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR)
            END"""


@register(
    "inventory_diff",
    f"""
    WITH old_inv AS (SELECT {_INV_KEY_SQL} AS key FROM lineitem WHERE l_linenumber <= 5),
    new_inv AS (SELECT {_INV_KEY_SQL} AS key FROM lineitem WHERE l_linenumber >= 2),
    tagged AS (SELECT key, 1 AS o, 0 AS n FROM old_inv
               UNION ALL SELECT key, 0 AS o, 1 AS n FROM new_inv),
    pk AS (SELECT key, MAX(o) AS in_old, MAX(n) AS in_new FROM tagged GROUP BY key)
    SELECT key, CASE WHEN in_new = 1 THEN 'added' ELSE 'deleted' END AS change
    FROM pk WHERE in_old <> in_new
    """,
)
def inventory_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day inventory diff (added/deleted object keys) between
    two snapshots, modeled as linenumber-sliced views of lineitem."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    inv_old = core.inventory_from_lineitem(li.filter(F.col("l_linenumber") <= 5))
    inv_new = core.inventory_from_lineitem(li.filter(F.col("l_linenumber") >= 2))
    return core.inventory_diff(inv_old, inv_new)


@register(
    "du_quality_check",
    f"""
    WITH inventory AS ({INVENTORY_SQL})
    SELECT COUNT(*) AS total_rows,
           CAST(SUM(CASE WHEN key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_keys,
           CAST(SUM(CASE WHEN size IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_sizes,
           CAST(SUM(CASE WHEN NOT (len(string_split(key, '/')) >= 2) THEN 1 ELSE 0 END)
                AS BIGINT) AS malformed_keys
    FROM inventory
    """,
)
def du_quality_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference O9 (handler.go:224-228) re-expressed as a one-pass
    null/malformed accounting gate."""
    inv = core.inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    return core.inventory_quality(inv)


_INV_SLICE_SQL = """SELECT CASE WHEN l_linenumber = 7 THEN CAST(l_orderkey AS VARCHAR)
                ELSE CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR)
           END AS key,
           l_extendedprice AS size
    FROM lineitem WHERE {pred}"""


@register(
    "du_incremental",
    f"""
    WITH inventory AS ({_INV_SLICE_SQL.format(pred='l_linenumber >= 2')})
    SELECT split_part(key, '/', 1) AS address,
           ROUND(SUM(size), 2) AS size_bytes,
           COUNT(*) AS number_files
    FROM inventory
    WHERE len(string_split(key, '/')) >= 2
    GROUP BY address
    """,
)
def du_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot maintenance: yesterday's aggregate
    (linenumber <= 5 slice) + added objects (>= 6) - removed (= 1)
    must equal a full re-aggregation of today's snapshot (>= 2) —
    which is exactly what the oracle computes."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    prev = core.disk_usage(
        core.inventory_from_lineitem(li.filter(F.col("l_linenumber") <= 5)),
        round_to=None,
    )
    added = core.inventory_from_lineitem(li.filter(F.col("l_linenumber") >= 6))
    removed = core.inventory_from_lineitem(li.filter(F.col("l_linenumber") == 1))
    return core.incremental_disk_usage(prev, added, removed)


HEAVY_USERS_SQL = f"""
    WITH du AS ({DU_CORE_SQL}),
    s AS (SELECT AVG(size_bytes) AS a, SUM(size_bytes) AS t FROM du)
    SELECT address, size_bytes, number_files,
           ROUND(size_bytes / t, 4) AS share_of_total,
           ROUND(size_bytes / a, 2) AS avg_multiple
    FROM du, s WHERE size_bytes >= 3.0 * a
"""


@register("du_heavy_users", HEAVY_USERS_SQL)
def du_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Addresses ≥3× the average usage with share-of-total — broadcast
    scalar comparison, no sort/window (core.heavy_users)."""
    inv = core.inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    return core.heavy_users(core.disk_usage(inv))


# [EXT] Top-k usage growth between snapshot slices (capacity
# leaderboard; full-outer so appearing/vanishing users both count).
DU_GROWTH_SQL = f"""
    WITH old_inv AS ({_INV_SLICE_SQL.format(pred='l_linenumber <= 5')}),
    new_inv AS ({_INV_SLICE_SQL.format(pred='l_linenumber >= 2')}),
    old_agg AS (SELECT split_part(key, '/', 1) AS address,
                       SUM(size) AS ob, COUNT(*) AS of
                FROM old_inv WHERE len(string_split(key, '/')) >= 2
                GROUP BY address),
    new_agg AS (SELECT split_part(key, '/', 1) AS address,
                       SUM(size) AS nb, COUNT(*) AS nf
                FROM new_inv WHERE len(string_split(key, '/')) >= 2
                GROUP BY address)
    SELECT COALESCE(o.address, n.address) AS address,
           ROUND(COALESCE(n.nb, 0) - COALESCE(o.ob, 0), 2) AS growth_bytes,
           COALESCE(n.nf, 0) - COALESCE(o.of, 0) AS growth_files
    FROM old_agg o FULL OUTER JOIN new_agg n ON o.address = n.address
    ORDER BY growth_bytes DESC, address ASC
    LIMIT 10
"""


@register("du_top_growth", DU_GROWTH_SQL)
def du_top_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Snapshot-over-snapshot growth leaderboard
    (operators/core.py:usage_growth)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    old = core.inventory_from_lineitem(li.filter(F.col("l_linenumber") <= 5))
    new = core.inventory_from_lineitem(li.filter(F.col("l_linenumber") >= 2))
    return core.usage_growth(old, new)


# [EXT] SCD2 versioned history of the per-address aggregate across two
# snapshot days (linenumber-sliced snapshots, as inventory_diff).
DU_SCD2_SQL = f"""
    WITH old_inv AS (SELECT {_INV_KEY_SQL} AS key, l_extendedprice AS size
                     FROM lineitem WHERE l_linenumber <= 5),
    new_inv AS (SELECT {_INV_KEY_SQL} AS key, l_extendedprice AS size
                FROM lineitem WHERE l_linenumber >= 2),
    o AS (SELECT split_part(key, '/', 1) AS address,
                 ROUND(SUM(size), 2) AS o_size, COUNT(*) AS o_files
          FROM old_inv WHERE len(string_split(key, '/')) >= 2
          GROUP BY address),
    n AS (SELECT split_part(key, '/', 1) AS address,
                 ROUND(SUM(size), 2) AS n_size, COUNT(*) AS n_files
          FROM new_inv WHERE len(string_split(key, '/')) >= 2
          GROUP BY address),
    j AS (SELECT COALESCE(o.address, n.address) AS address,
                 o_size, o_files, n_size, n_files,
                 o.address IS NOT NULL AS in_old,
                 n.address IS NOT NULL AS in_new,
                 o.address IS NOT NULL AND n.address IS NOT NULL
                     AND (o_size <> n_size OR o_files <> n_files) AS changed
          FROM o FULL OUTER JOIN n ON o.address = n.address)
    SELECT address, o_size AS size_bytes, o_files AS number_files,
           '2024-01-01' AS valid_from, '9999-12-31' AS valid_to,
           TRUE AS is_current
    FROM j WHERE in_old AND in_new AND NOT changed
    UNION ALL
    SELECT address, o_size, o_files, '2024-01-01', '2024-01-02', FALSE
    FROM j WHERE in_old AND (changed OR NOT in_new)
    UNION ALL
    SELECT address, n_size, n_files, '2024-01-02', '9999-12-31', TRUE
    FROM j WHERE changed OR (in_new AND NOT in_old)
"""


@register("du_scd2_history", DU_SCD2_SQL)
def du_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SCD2 versioned snapshot history
    (operators/core.py:scd2_history)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    old_agg = core.disk_usage(
        core.inventory_from_lineitem(li.filter(F.col("l_linenumber") <= 5))
    )
    new_agg = core.disk_usage(
        core.inventory_from_lineitem(li.filter(F.col("l_linenumber") >= 2))
    )
    return core.scd2_history(old_agg, new_agg, "2024-01-01", "2024-01-02")


# [EXT] Quota-breach report over the du aggregate (p95 stand-in quota).
DU_QUOTA_SQL = f"""
    WITH inventory AS ({INVENTORY_SQL}),
    agg AS (SELECT split_part(key, '/', 1) AS address,
                   ROUND(SUM(size), 2) AS size_bytes,
                   COUNT(*) AS number_files
            FROM inventory
            WHERE len(string_split(key, '/')) >= 2
            GROUP BY address),
    q AS (SELECT quantile_cont(size_bytes, 0.95) AS quota FROM agg)
    SELECT address, size_bytes, number_files,
           ROUND(quota, 2) AS quota,
           CAST(ROUND((size_bytes - quota) * 100, 0) AS BIGINT) AS excess_cents,
           ROUND(size_bytes / quota, 4) AS usage_ratio
    FROM agg CROSS JOIN q
    WHERE size_bytes > quota
"""


@register("du_quota_alerts", DU_QUOTA_SQL)
def du_quota_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Addresses above quota (operators/core.py:quota_alerts) —
    the enforcement query behind the reference's GetDiskUsage API
    (handler.go:255-262 serves exactly this check one key at a time)."""
    li = load_table(spark, sf_dir, "lineitem")
    return core.quota_alerts(core.disk_usage(core.inventory_from_lineitem(li)))


# [EXT] Per-address largest objects (quota drill-down).
DU_LARGEST_SQL = f"""
    WITH inventory AS ({INVENTORY_SQL}),
    base AS (SELECT split_part(key, '/', 1) AS address, key, size
             FROM inventory WHERE len(string_split(key, '/')) >= 2)
    SELECT address, key,
           ROUND(size, 2) AS size,
           CAST(ROW_NUMBER() OVER (PARTITION BY address
                                   ORDER BY size DESC, key ASC) AS INTEGER)
               AS size_rank,
           ROUND(size / SUM(size) OVER (PARTITION BY address), 4)
               AS addr_share
    FROM base
    QUALIFY size_rank <= 3
"""


@register("du_largest_files", DU_LARGEST_SQL)
def du_largest_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Top-3 objects per address with share of the address total
    (operators/core.py:largest_files_per_address)."""
    li = load_table(spark, sf_dir, "lineitem")
    return core.largest_files_per_address(core.inventory_from_lineitem(li))


# DuckDB mirror of dq.inventory_constraint_suite over the same derived
# inventory every du_* oracle uses: one aggregation pass, one row per
# rule, NULL-safe via the same CASE arms.
DU_INGEST_CONSTRAINTS_SQL = """
    WITH inventory AS (
        SELECT CASE WHEN l_linenumber = 7 THEN CAST(l_orderkey AS VARCHAR)
                    ELSE CAST(l_orderkey AS VARCHAR) || '/' ||
                         CAST(l_linenumber AS VARCHAR)
               END AS key,
               l_extendedprice AS size
        FROM lineitem),
    a AS (
        SELECT COUNT(*) AS n_rows,
               COALESCE(SUM(CASE WHEN key IS NULL THEN 1 ELSE 0 END), 0)
                   AS null_keys,
               COALESCE(SUM(CASE WHEN size IS NULL THEN 1 ELSE 0 END), 0)
                   AS null_sizes,
               COALESCE(SUM(CASE WHEN size < 0 THEN 1 ELSE 0 END), 0)
                   AS neg_sizes,
               COALESCE(SUM(CASE WHEN len(string_split(key, '/')) >= 2
                                 THEN 0 ELSE 1 END), 0) AS malformed_keys
        FROM inventory)
    SELECT 'completeness:key' AS rule,
           ROUND(CAST(null_keys AS DOUBLE), 6) AS metric,
           CASE WHEN null_keys = 0 THEN 'PASS' ELSE 'FAIL' END AS status
    FROM a
    UNION ALL
    SELECT 'completeness:size', ROUND(CAST(null_sizes AS DOUBLE), 6),
           CASE WHEN null_sizes = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'non_negative:size', ROUND(CAST(neg_sizes AS DOUBLE), 6),
           CASE WHEN neg_sizes = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'malformed_frac:key',
           ROUND(CAST(malformed_keys * 1.0 / GREATEST(n_rows, 1) AS DOUBLE), 6),
           CASE WHEN malformed_keys * 1.0 / GREATEST(n_rows, 1) <= 0.5
                THEN 'PASS' ELSE 'FAIL' END
    FROM a
"""


@register("du_ingest_constraints", DU_INGEST_CONSTRAINTS_SQL)
def du_ingest_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The refresher's swap-gate rule set over the reference-
    shaped inventory, as an oracle-checked report
    (operators/dq.py:inventory_constraint_suite; gate enforcement in
    streaming/refresh.py:DiskUsageHandler)."""
    from ..operators.core import inventory_from_lineitem

    return dq.inventory_constraint_suite(
        inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    )
