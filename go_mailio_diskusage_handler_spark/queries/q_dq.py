"""Data-quality family (``dq_``): Deequ-style constraint suites
over the orders and embeddings tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dq
from ..sources.tables import load_table
from ._base import register


# DuckDB mirror of dq.constraint_suite: same one-pass aggregates over
# orders, same NULL-falls-to-violation CASE arms, same anti-join
# orphan count, assembled as a UNION ALL of 1-row rules.  The
# COALESCEd SUMs and GREATEST-floored denominators mirror the Spark
# side's empty-table hardening (ADVICE r8).
DQ_CONSTRAINTS_SQL = """
    WITH a AS (
        SELECT COUNT(*) AS n_rows,
               COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
                   AS null_ck,
               COUNT(DISTINCT o_orderkey) AS d_ok,
               COALESCE(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                                 THEN 0 ELSE 1 END), 0) AS bad_status,
               COALESCE(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END), 0)
                   AS neg_price
        FROM orders),
    o AS (
        SELECT COUNT(*) AS orphan_rows
        FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) ord
        LEFT JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey IS NULL)
    SELECT 'completeness:o_custkey' AS rule,
           -- numerator floors n_rows too, matching the Spark side's
           -- (greatest(n_rows,1) - null_ck) / greatest(n_rows,1): an
           -- empty table reads vacuously complete (1.0) in BOTH engines
           ROUND(CAST((GREATEST(n_rows, 1) - null_ck) * 1.0
                      / GREATEST(n_rows, 1) AS DOUBLE), 6)
               AS metric,
           CASE WHEN null_ck = 0 THEN 'PASS' ELSE 'FAIL' END AS status
    FROM a
    UNION ALL
    SELECT 'uniqueness:o_orderkey',
           ROUND(CAST(d_ok * 1.0 / GREATEST(n_rows, 1) AS DOUBLE), 6),
           CASE WHEN d_ok = n_rows THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'domain:o_orderstatus',
           ROUND(CAST(bad_status AS DOUBLE), 6),
           CASE WHEN bad_status = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'non_negative:o_totalprice',
           ROUND(CAST(neg_price AS DOUBLE), 6),
           CASE WHEN neg_price = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'referential:o_custkey->c_custkey',
           ROUND(CAST(orphan_rows AS DOUBLE), 6),
           CASE WHEN orphan_rows = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM o
"""


@register("dq_orders_constraints", DQ_CONSTRAINTS_SQL)
def dq_orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Declarative Deequ-style constraint suite over orders
    (operators/dq.py:constraint_suite) — the scale-correct replacement
    for the reference's log.Fatalf ingest posture (handler.go:176)."""
    return dq.constraint_suite(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


# ---------------------------------------------------------------------------
# dq_embeddings_constraints — declarative vector-quality suite
# ---------------------------------------------------------------------------

# The norm legs are bit-identical across engines by the identical-tree
# argument: both fold the squared float32 elements (cast to double,
# then squared — each op correctly rounded) LEFT-TO-RIGHT in array
# order (Spark F.aggregate with 0.0 init; DuckDB list_reduce whose
# first-element init equals 0.0+x1² exactly), then one sqrt.  All
# other outputs are exact counts.  Empty (length-0, non-NULL) lists
# are guarded with CASE → 0.0 (round-12 ADVICE): DuckDB's list_reduce
# RAISES on an empty list where Spark's F.aggregate returns the 0.0
# init (whose sqrt is 0.0), so both engines now degrade identically.
DQ_EMBEDDINGS_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(count_if(embedding IS NULL) AS BIGINT) AS n_null_vec,
           CAST(count_if(embedding IS NOT NULL AND len(embedding) <> 64)
                AS BIGINT) AS n_bad_dim,
           CAST(count_if(embedding IS NOT NULL AND len(list_filter(
                embedding, x -> isnan(x) OR isinf(x))) > 0) AS BIGINT)
               AS n_nonfinite,
           CAST(count_if(embedding IS NOT NULL AND len(list_filter(
                embedding, x -> x <> 0)) = 0) AS BIGINT) AS n_zero_vec,
           CAST(COUNT(*) - COUNT(DISTINCT vec_id) AS BIGINT) AS n_dup_ids,
           CAST(count_if(label IS NULL OR label < 0 OR label > 9)
                AS BIGINT) AS n_bad_label,
           MIN(CASE WHEN len(embedding) = 0 THEN 0.0
               ELSE sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b)) END) AS min_norm,
           MAX(CASE WHEN len(embedding) = 0 THEN 0.0
               ELSE sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b)) END) AS max_norm
    FROM embeddings
"""


@register("dq_embeddings_constraints", DQ_EMBEDDINGS_ORACLE)
def dq_embeddings_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deequ-style constraint suite for the VECTOR table — the
    ingest gate an embedding corpus needs before any ANN index build:
    null/dimension/non-finite/zero-vector checks, id uniqueness,
    label domain, and the L2-norm envelope (a drifted norm range is
    the classic sign of a mixed-encoder corpus), all in ONE
    aggregation pass.  Composes with the du-family quality gate
    posture: `streaming/refresh.py`'s swap gate consumes exactly this
    report shape.

    Scale: one scan, one partial→final aggregate, no shuffle keyed by
    data; the per-row norm fold is a codegen higher-order function
    over the fixed 64-wide array — no Python, no explode (the
    array never becomes 64 rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    sq_sum = F.aggregate(
        vec, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.sqrt(sq_sum)
    nonfinite = F.exists(
        vec, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    return emb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(vec.isNull()).alias("n_null_vec"),
        F.count_if(vec.isNotNull() & (F.size(vec) != 64)).alias("n_bad_dim"),
        F.count_if(vec.isNotNull() & nonfinite).alias("n_nonfinite"),
        F.count_if(
            vec.isNotNull() & (F.size(F.filter(vec, lambda x: x != 0)) == 0)
        ).alias("n_zero_vec"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("vec_id")))
        .alias("n_dup_ids"),
        F.count_if(
            F.col("label").isNull()
            | (F.col("label") < 0) | (F.col("label") > 9)
        ).alias("n_bad_label"),
        F.min(norm).alias("min_norm"),
        F.max(norm).alias("max_norm"),
    )
