"""Round-8 additions: polymorphic-output Python UDTF (``analyze()``)
and the runtime-bloom-filter probe join.

In-repo oracle parity: the pytest ORACLE_CHECKED lists.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import udfs
from ..operators import core, dedup
from ..sources.tables import load_table
from ..sql import register_views
from ._base import register
from .q_du import INVENTORY_SQL

# DuckDB mirror of udfs.widen_path_segments (depth=2, limit 100):
# per-key horizontal widening; list indexing past the end is NULL in
# DuckDB exactly as the UDTF pads missing segments with None.
WIDEN_SEGMENTS_SQL = f"""
    WITH inv AS ({INVENTORY_SQL}),
    keys AS (SELECT key FROM inv ORDER BY key LIMIT 100),
    t AS (SELECT key, string_split(key, '/') AS parts FROM keys)
    SELECT key,
           parts[1] AS seg_1,
           parts[2] AS seg_2,
           CAST(len(parts) AS INTEGER) AS n_segs
    FROM t
"""


@register("udtf_widen_segments", WIDEN_SEGMENTS_SQL)
def udtf_widen_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Python UDTF with ``analyze()``: the output schema
    (seg_1..seg_k, n_segs) is computed at plan time from the constant
    depth argument — Spark 4's polymorphic-output table-function
    surface (functions/udfs.py:_WidenPathUDTF)."""
    inv = core.inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    return udfs.widen_path_segments(inv, depth=2, limit_keys=100)


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


# DuckDB mirror of DirectionChangesUDTF: zero diffs extend the current
# run, so the sign stream is compacted to its non-zero values first
# (nz), then consecutive distinct signs are counted.  (ts, event_id)
# is the deterministic per-user order in BOTH engines.
DIRECTION_CHANGES_SQL = """
    WITH e AS (SELECT user_id, event_id, ts, value FROM events
               WHERE value IS NOT NULL AND user_id IS NOT NULL),
    d AS (SELECT user_id, event_id, ts,
                 value - LAG(value) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id)
                     AS diff
          FROM e),
    nz AS (SELECT user_id, event_id, ts, SIGN(diff) AS s
           FROM d WHERE diff IS NOT NULL AND diff <> 0),
    ch AS (SELECT user_id,
                  CASE WHEN s <> LAG(s) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id)
                       THEN 1 ELSE 0 END AS c
           FROM nz),
    agg AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS direction_changes
            FROM ch GROUP BY user_id),
    n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM e GROUP BY user_id)
    SELECT n.user_id, n.n_events,
           COALESCE(agg.direction_changes, 0) AS direction_changes
    FROM n LEFT JOIN agg USING (user_id)
"""


@register("udtf_table_arg_changes", DIRECTION_CHANGES_SQL)
def udtf_table_arg_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Python UDTF over a TABLE argument with PARTITION BY /
    ORDER BY — per-user stateful direction-change counting with O(1)
    state per open partition (functions/udfs.py:DirectionChangesUDTF).
    Invoked through SQL because the TABLE(...) argument syntax is the
    surface under test."""
    register_views(spark, sf_dir)
    udfs.register_direction_changes(spark)
    return spark.sql(
        """
        SELECT * FROM direction_changes(
            TABLE(SELECT user_id, ts, event_id, value FROM events
                  WHERE value IS NOT NULL AND user_id IS NOT NULL)
            PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )


# DuckDB mirror of dedup.novelty_fraction (n=8): distinct grams per
# doc, first owner = MIN(doc_id) per gram, novelty = owned fraction.
# The division is exact-int-valued doubles — bit-identical across
# engines, no ROUND needed.  Same slice/COALESCE conventions as
# SPAN_TRIM_SQL (q_round7.py).
NOVELTY_SQL = """
    WITH b AS (SELECT doc_id,
                      string_split(COALESCE(text, ''), ' ') AS t
               FROM documents),
    g AS (SELECT doc_id, t FROM b WHERE len(t) >= 8),
    idxs AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS idx
             FROM g),
    occ AS (SELECT DISTINCT doc_id,
                   array_to_string(t[idx : idx + 7], ' ') AS gm
            FROM idxs),
    first AS (SELECT gm, MIN(doc_id) AS first_doc FROM occ GROUP BY gm)
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = o.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
           CAST(SUM(CASE WHEN f.first_doc = o.doc_id
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS novel_frac
    FROM occ o JOIN first f USING (gm)
    GROUP BY o.doc_id
"""


@register("dedup_novelty", NOVELTY_SQL)
def dedup_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-document novelty: fraction of a document's distinct
    word 8-grams whose first corpus occurrence is the document itself
    — ranks first-sources above re-publishers, which span coverage
    alone cannot (operators/dedup.py:novelty_fraction)."""
    from ..operators import dedup

    return dedup.novelty_fraction(load_table(spark, sf_dir, "documents"))


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


# DuckDB mirror of curation.novelty_gate (min_novelty 0.5, n=8): the
# NOVELTY_SQL body as a CTE, LEFT-joined back to every document so
# short docs (no gram) land in their own column.  The >= boundary is
# exact (novel_frac is an exact int/int division and 0.5 is
# representable), so the keep set cannot split across engines.
NOVELTY_GATE_SQL = """
    WITH b AS (SELECT doc_id, source,
                      string_split(COALESCE(text, ''), ' ') AS t
               FROM documents),
    g AS (SELECT doc_id, t FROM b WHERE len(t) >= 8),
    idxs AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS idx
             FROM g),
    occ AS (SELECT DISTINCT doc_id,
                   array_to_string(t[idx : idx + 7], ' ') AS gm
            FROM idxs),
    first AS (SELECT gm, MIN(doc_id) AS first_doc FROM occ GROUP BY gm),
    nv AS (SELECT o.doc_id,
                  CAST(SUM(CASE WHEN f.first_doc = o.doc_id
                                THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                      AS novel_frac
           FROM occ o JOIN first f USING (gm)
           GROUP BY o.doc_id)
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN nv.novel_frac >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_docs,
           CAST(SUM(CASE WHEN nv.novel_frac < 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_docs,
           CAST(SUM(CASE WHEN nv.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS short_docs,
           CAST(SUM(CASE WHEN nv.novel_frac >= 0.5 THEN len(b.t)
                         ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM b LEFT JOIN nv USING (doc_id)
    GROUP BY b.source
"""


@register("curation_novelty_gate", NOVELTY_GATE_SQL)
def curation_novelty_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Novelty-gated source acceptance report: per source, docs
    kept/dropped at novel_frac >= 0.5 plus the kept token volume — the
    dedup-aware dashboard a crawl pipeline reads before admitting a
    source's batch (operators/curation.py:novelty_gate, composing
    dedup.novelty_fraction)."""
    from ..operators import curation

    return curation.novelty_gate(load_table(spark, sf_dir, "documents"))


# Oracle = the FULL-corpus novelty computation filtered to the batch
# (doc_id > FLOOR(0.8·max)): a batch doc owns a gram iff min(doc_id)
# over the corpus is itself ⟺ no history occurrence AND first within
# the batch — the equivalence the incremental operator exploits.
# FLOOR, not CAST: DuckDB rounds double→int casts, Spark truncates.
NOVELTY_INCR_SQL = """
    WITH b AS (SELECT doc_id,
                      string_split(COALESCE(text, ''), ' ') AS t
               FROM documents),
    g AS (SELECT doc_id, t FROM b WHERE len(t) >= 8),
    idxs AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS idx
             FROM g),
    occ AS (SELECT DISTINCT doc_id,
                   array_to_string(t[idx : idx + 7], ' ') AS gm
            FROM idxs),
    first AS (SELECT gm, MIN(doc_id) AS first_doc FROM occ GROUP BY gm),
    s AS (SELECT FLOOR(0.8 * MAX(doc_id)) AS split_id FROM documents)
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = o.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
           CAST(SUM(CASE WHEN f.first_doc = o.doc_id
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS novel_frac
    FROM occ o JOIN first f USING (gm), s
    WHERE o.doc_id > s.split_id
    GROUP BY o.doc_id
"""


@register("dedup_novelty_incremental", NOVELTY_INCR_SQL)
def dedup_novelty_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Incremental novelty: the daily batch (newest 20% by
    doc_id) probes the history's persisted gram index — O(new) per
    batch, result row-for-row equal to the batch operator filtered to
    the new documents (operators/dedup.py:novelty_fraction_incremental)."""
    return dedup.novelty_fraction_incremental(
        load_table(spark, sf_dir, "documents")
    )


# DuckDB mirror of sessions.forward_fill_values: LAST_VALUE IGNORE
# NULLS over the same (user, ts, event_id) order; no arithmetic on the
# carried double, so values are bit-identical.  -1.0 sentinel +
# has_value flag per the nullable-DOUBLE oracle convention.
FORWARD_FILL_SQL = """
    WITH e AS (SELECT event_id, user_id, ts,
                      CASE WHEN event_type <> 'view' THEN value END AS obs
               FROM events),
    f AS (SELECT event_id, user_id,
                 LAST_VALUE(obs IGNORE NULLS) OVER
                     (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS filled
          FROM e)
    SELECT event_id, user_id,
           COALESCE(filled, -1.0) AS filled_value,
           filled IS NOT NULL AS has_value
    FROM f
"""


@register("events_forward_fill", FORWARD_FILL_SQL)
def events_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user forward-fill (last observation carried forward):
    sparse-metric imputation in one ordered window pass, O(1) state
    per user (operators/sessions.py:forward_fill_values)."""
    from ..operators import sessions

    return sessions.forward_fill_values(load_table(spark, sf_dir, "events"))


# DuckDB mirror of sessions.interpolate_values.  The blend is written
# prev + (next - prev) * ((t - pt) / (nt - pt)) in BOTH engines — the
# identical IEEE sequence over identical anchors, so values are
# bit-identical (the time ratio is a BIGINT-difference division).
INTERPOLATE_SQL = """
    WITH e AS (SELECT event_id, user_id, ts,
                      epoch_us(ts) AS t,
                      CASE WHEN event_type <> 'view' THEN value END
                          AS obs,
                      CASE WHEN event_type <> 'view' THEN epoch_us(ts)
                          END AS obs_t
               FROM events),
    w AS (SELECT event_id, user_id, t, obs,
                 LAST_VALUE(obs IGNORE NULLS) OVER pw AS prev_v,
                 LAST_VALUE(obs_t IGNORE NULLS) OVER pw AS prev_t,
                 FIRST_VALUE(obs IGNORE NULLS) OVER fw AS next_v,
                 FIRST_VALUE(obs_t IGNORE NULLS) OVER fw AS next_t
          FROM e
          WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW),
                 fw AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN CURRENT ROW
                        AND UNBOUNDED FOLLOWING))
    SELECT event_id, user_id,
           CASE WHEN prev_v IS NULL THEN -1.0
                WHEN next_v IS NULL THEN prev_v
                WHEN next_t = prev_t THEN prev_v
                ELSE prev_v + (next_v - prev_v)
                     * ((t - prev_t) / (next_t - prev_t))
           END AS interp_value,
           CASE WHEN obs IS NOT NULL THEN 'obs'
                WHEN prev_v IS NULL THEN 'leading'
                WHEN next_v IS NULL THEN 'trailing'
                ELSE 'interp'
           END AS kind
    FROM w
"""


@register("events_interpolate", INTERPOLATE_SQL)
def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user linear interpolation between observations: the
    two-sided resample (time-weighted blend of nearest anchors), one
    user_id shuffle, bit-identical across engines
    (operators/sessions.py:interpolate_values)."""
    from ..operators import sessions

    return sessions.interpolate_values(load_table(spark, sf_dir, "events"))


# DuckDB mirror of sessions.user_value_ewma (α=0.1, cap 256):
# list(value ORDER BY ts, event_id), trailing-cap slice, list_reduce
# fold (fold1 — seeds with the first element, exactly as the Spark
# side's element_at + slice) — identical IEEE sequence, bit-identical.
EWMA_SQL = """
    WITH u AS (SELECT user_id,
                      list(value ORDER BY ts, event_id) AS vals,
                      CAST(COUNT(*) AS BIGINT) AS n_events
               FROM events WHERE value IS NOT NULL
               GROUP BY user_id),
    c AS (SELECT user_id, n_events,
                 vals[GREATEST(1, len(vals) - 255) : len(vals)] AS tail
          FROM u)
    SELECT user_id, n_events,
           list_reduce(tail, (acc, x) -> acc * 0.9 + 0.1 * x)
               AS ewma_value
    FROM c
"""


@register("events_user_ewma", EWMA_SQL)
def events_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user EWMA of value: the recursive recency-weighted
    feature as a JVM-side ordered array fold (one shuffle, no Python),
    trailing-256 cap bounding per-group state
    (operators/sessions.py:user_value_ewma)."""
    from ..operators import sessions

    return sessions.user_value_ewma(load_table(spark, sf_dir, "events"))
