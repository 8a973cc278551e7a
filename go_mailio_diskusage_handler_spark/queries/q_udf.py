"""Python UDF family (``udf_``, ``udaf_``, ``udtf_``): scalar,
iterator, grouped-map, cogrouped and Arrow UDFs, the grouped-agg
UDAF, and Python UDTFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import udfs
from ..operators import core
from ..sources.tables import load_table, register_views
from ._base import register
from .q_du import INVENTORY_SQL
from .q_similarity import _ddb_cosine


@register(
    "udf_pandas_cosine",
    f"""
    WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND({_ddb_cosine('e.embedding', 'q_emb')}, 4) AS cos_to_q0
    FROM embeddings e, q WHERE e.vec_id != 0
    """,
)
def udf_pandas_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched scalar Pandas UDF (vectorized numpy cosine);
    4-digit rounding absorbs numpy-pairwise vs sequential-fold fp
    summation differences."""
    return udfs.cosine_vs_first_vector(load_table(spark, sf_dir, "embeddings"))


@register(
    "udaf_weighted_avg_price",
    """
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
               AS weighted_avg_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_weighted_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return udfs.weighted_avg_price_per_flag(load_table(spark, sf_dir, "lineitem"))


@register(
    "udtf_path_segments",
    f"""
    WITH inv AS ({INVENTORY_SQL}),
    keys AS (SELECT key FROM inv ORDER BY key LIMIT 100),
    t AS (SELECT key, string_split(key, '/') AS parts FROM keys)
    SELECT key, CAST(u.i - 1 AS INTEGER) AS pos,
           parts[CAST(u.i AS INTEGER)] AS piece
    FROM t, UNNEST(range(1, len(parts) + 1)) AS u(i)
    """,
)
def udtf_path_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF under a lateral join over the synthesized inventory
    keys (bounded deterministic subset)."""
    inv = core.inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    return udfs.path_segments(inv)


_HEX3 = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(word), {k + 1}, 1)) - 1) * {16 ** (2 - k)}"
    for k in range(3)
)


MODEL_SCORES_SQL = f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
    v AS (SELECT doc_id, ({_HEX3}) % 1000 AS val FROM w),
    s AS (SELECT doc_id, CAST(SUM(val) AS BIGINT) AS model_sum,
                 CAST(COUNT(*) AS INTEGER) AS n_tok
          FROM v GROUP BY doc_id)
    SELECT doc_id, model_sum, n_tok,
           ROUND(model_sum * 1.0 / n_tok, 4) AS model_score
    FROM s
"""


@register("udf_iter_model_scores", MODEL_SCORES_SQL)
def udf_iter_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas_udf: fake model loads once per worker,
    Arrow batches stream through — udfs.model_scores."""
    return udfs.model_scores(load_table(spark, sf_dir, "documents"))


@register(
    "udf_grouped_map_zscore",
    """
    WITH s AS (SELECT user_id, event_id, value,
                      COUNT(*) OVER w AS n,
                      AVG(value) OVER w AS mu,
                      STDDEV_SAMP(value) OVER w AS sd
               FROM events WINDOW w AS (PARTITION BY user_id))
    SELECT user_id, event_id, ROUND((value - mu) / sd, 4) AS z_value
    FROM s WHERE n >= 2 AND sd > 0
    """,
)
def udf_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user z-scores (numpy two-pass vs
    the oracle's window stddev agree far inside the 4-digit round)."""
    return udfs.per_user_zscores(load_table(spark, sf_dir, "events"))


# [EXT] Arrow-optimized plain Python UDF surface (useArrow=True).
UDF_ARROW_SQL = """
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           string_split(text, ' ')[1] AS head_token
    FROM documents
"""


@register("udf_arrow_tokens", UDF_ARROW_SQL)
def udf_arrow_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Arrow-optimized scalar Python UDF
    (functions/udfs.py:arrow_optimized_tokens)."""
    return udfs.arrow_optimized_tokens(load_table(spark, sf_dir, "documents"))


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
    return udfs.widen_path_segments(inv, depth=2)


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


# DuckDB mirror of udfs.asof_attribution_cogrouped: for each purchase
# the last click strictly before it per user (ties on click ts break
# to max event_id); gap in exact microsecond-resolution seconds;
# -1 sentinels for purchases with no prior click.
COGROUP_ASOF_SQL = """
    WITH p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase' AND user_id < 200),
    c AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'click' AND user_id < 200),
    best AS (SELECT p.event_id,
                    MAX(struct_pack(ts := c.ts, eid := c.event_id)) AS b
             FROM p JOIN c ON p.user_id = c.user_id AND c.ts < p.ts
             GROUP BY p.event_id)
    SELECT p.user_id, p.event_id,
           COALESCE(b.eid, -1) AS click_event_id,
           COALESCE(date_diff('microsecond', b.ts, p.ts) / 1000000.0, -1.0)
               AS gap_s
    FROM p LEFT JOIN best ON p.event_id = best.event_id
"""


@register("udf_cogroup_asof", COGROUP_ASOF_SQL)
def udf_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] cogroup().applyInPandas as-of attribution: per-user
    purchase/click frames merged with pd.merge_asof in one Arrow batch
    pair (functions/udfs.py:asof_attribution_cogrouped)."""
    from ..functions import udfs

    return udfs.asof_attribution_cogrouped(load_table(spark, sf_dir, "events"))


# DuckDB mirror of udfs.embedding_norms_arrow: float32 -> double
# upcast BEFORE squaring, sequential fold, round 6.
ARROW_NORMS_SQL = """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
"""


@register("udf_arrow_norms", ARROW_NORMS_SQL)
def udf_arrow_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] mapInArrow L2 norms over the raw Arrow buffers — offsets +
    np.add.reduceat on the flat value buffer, no pandas conversion
    (functions/udfs.py:embedding_norms_arrow)."""
    from ..functions import udfs

    return udfs.embedding_norms_arrow(load_table(spark, sf_dir, "embeddings"))


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
