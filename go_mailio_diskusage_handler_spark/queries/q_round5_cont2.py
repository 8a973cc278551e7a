"""Round-5 continuation additions, batch 2.

Split from the monolithic registry.py in round 6; registration
order is preserved by the import sequence in ``..registry``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import core, relational
from ..sources.tables import load_table
from ._base import ORACLE_SQL, register
from ..operators import curation, dedup, sessions, text  # noqa: E402
from ..functions import udfs  # noqa: E402
from .q_curation import _SIM_BLOCKS
from .q_curation import _SIMHASH_CTES
from .q_dedup import _JACCARD_TAIL
from .q_dedup import _CAPPED_SHINGLE_CTES
from .q_du import INVENTORY_SQL
from .q_curation import _DDB_BUCKET
from .q_similarity import _ddb_dot
from .q_relational2 import _INV_KEY_SQL
from .q_similarity import _ddb_cosine
from .q_round5_cont import _km_update_cte
from .q_round5_cont import _km_assign_cte
from ..operators import similarity  # noqa: E402
from .. import sql as sql_surface  # noqa: E402
from .q_text import _LANGS
from .q_text import _lang_scores_sql


# [EXT] Language-ID confusion matrix (row-normalized per label).
TEXT_LANG_CONFUSION_SQL = f"""
    WITH scored AS (
        SELECT doc_id, lang, {_lang_scores_sql()}
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
    ),
    pred AS (
        SELECT lang AS labeled_lang,
               CASE {' '.join(f"WHEN score_{l} = greatest({', '.join('score_' + x for x in _LANGS)}) THEN '{l}'" for l in _LANGS)}
               END AS predicted_lang
        FROM scored),
    counts AS (SELECT labeled_lang, predicted_lang, COUNT(*) AS n
               FROM pred GROUP BY labeled_lang, predicted_lang)
    SELECT labeled_lang, predicted_lang, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY labeled_lang), 4)
               AS share
    FROM counts
"""


@register("text_lang_confusion", TEXT_LANG_CONFUSION_SQL)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Language-ID confusion matrix
    (operators/text.py:language_confusion)."""
    return text.language_confusion(load_table(spark, sf_dir, "documents"))


# [EXT] Exact DAU / trailing-7-day WAU / stickiness.
EVENTS_DAU_WAU_SQL = """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
                FROM events WHERE user_id IS NOT NULL),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    wau AS (SELECT s.day, COUNT(DISTINCT d.user_id) AS wau
            FROM (SELECT day FROM dau) s
            JOIN du d ON d.day <= s.day AND d.day >= s.day - 6
            GROUP BY s.day)
    SELECT strftime(dau.day, '%Y-%m-%d') AS day,
           dau.dau, wau.wau,
           ROUND(dau.dau * 1.0 / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day
"""


@register("events_dau_wau", EVENTS_DAU_WAU_SQL)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact DAU/WAU engagement report
    (operators/sessions.py:dau_wau)."""
    return sessions.dau_wau(load_table(spark, sf_dir, "events"))


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


# [EXT] Conversion-window funnel (each step within 24h of the last).
_FW_BOUND = 24 * 3600 * 1_000_000

EVENTS_FUNNEL_WINDOW_SQL = f"""
    WITH u AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
    v AS (SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
            AND epoch_us(e.ts) <= v.t1 + {_FW_BOUND}
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
            AND epoch_us(e.ts) <= c.t2 + {_FW_BOUND}
          GROUP BY e.user_id)
    SELECT u.user_id,
           COALESCE(v.t1, -1) AS step_1_us,
           COALESCE(c.t2, -1) AS step_2_us,
           COALESCE(p.t3, -1) AS step_3_us,
           CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                     WHEN c.t2 IS NOT NULL THEN 2
                     WHEN v.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS steps_completed
    FROM u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
"""


@register("events_funnel_window", EVENTS_FUNNEL_WINDOW_SQL)
def events_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] 24h-conversion-window funnel
    (operators/sessions.py:funnel_within)."""
    return sessions.funnel_within(load_table(spark, sf_dir, "events"))


# [EXT] Daily event-volume anomalies: trailing-window z-score over the
# (day x type) count table; current day excluded from its baseline.
EVENTS_ANOMALY_SQL = """
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n_events
        FROM events GROUP BY 1, 2),
    scored AS (
        SELECT day, event_type, n_events,
               COUNT(*) OVER w AS n_prior,
               AVG(n_events) OVER w AS mean_prior,
               STDDEV_SAMP(n_events) OVER w AS sd_prior
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
    SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n_events, n_prior,
           COALESCE(ROUND(mean_prior, 4), -1.0) AS mean_prior,
           (n_prior >= 3 AND sd_prior > 0) AS scoreable,
           COALESCE(ROUND(CASE WHEN n_prior >= 3 AND sd_prior > 0
                      THEN (n_events - mean_prior) / sd_prior END, 4), 0.0)
               AS zscore,
           COALESCE(CASE WHEN n_prior >= 3 AND sd_prior > 0
                         THEN abs((n_events - mean_prior) / sd_prior) >= 2.0
                    END, FALSE) AS is_anomaly
    FROM scored
"""


@register("events_anomaly_zscore", EVENTS_ANOMALY_SQL)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Trailing z-score anomaly flags on daily event volumes
    (operators/sessions.py:daily_anomaly_zscore)."""
    return sessions.daily_anomaly_zscore(load_table(spark, sf_dir, "events"))


# [EXT] Zipf's-law corpus-health fit: ln(freq) ~ ln(rank) regression
# over the top-100 words.
TEXT_ZIPF_SQL = r"""
    WITH words AS (
        SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        FROM documents),
    freq AS (SELECT w, COUNT(*) AS cnt FROM words WHERE w <> '' GROUP BY w),
    top AS (SELECT cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, w ASC) AS rank
            FROM freq ORDER BY cnt DESC, w ASC LIMIT 100)
    SELECT COUNT(*) AS n_terms,
           ROUND(regr_slope(ln(cnt), ln(rank)), 6) AS slope,
           ROUND(regr_intercept(ln(cnt), ln(rank)), 6) AS intercept,
           ROUND(regr_r2(ln(cnt), ln(rank)), 6) AS r2
    FROM top
"""


@register("text_zipf_slope", TEXT_ZIPF_SQL)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Zipf rank-frequency regression (operators/text.py:zipf_fit)."""
    return text.zipf_fit(load_table(spark, sf_dir, "documents"))


@register("sql_excess_capacity", sql_surface.EXCESS_CAPACITY_SQL)
def sql_excess_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: dominant widget-part shippers via nested
    aggregation + semi join (sql.excess_capacity)."""
    return sql_surface.excess_capacity(spark, sf_dir)


# [EXT] SemDeDup-style semantic dedup: Lloyd cells + rank-banded
# within-cell cosine (operators/similarity.py:semantic_dedup).  The
# oracle replays the same deterministic Lloyd CTEs as sim_kmeans_*
# and the same rank-band candidate rule.
SEMANTIC_DEDUP_SQL = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < {similarity.KM_K}),
    {_km_assign_cte('e', 'c0', 'a1')},
    {_km_update_cte('a1', 'c1')},
    {_km_assign_cte('e', 'c1', 'a2')},
    {_km_update_cte('a2', 'c2')},
    {_km_assign_cte('e', 'c2', 'a3')},
    ranked AS (SELECT vec_id, cid,
                      ROW_NUMBER() OVER (PARTITION BY cid
                                         ORDER BY d ASC, vec_id ASC) AS rk
               FROM a3),
    dups AS (SELECT x.vec_id AS vec_id, COUNT(*) AS n_dups
             FROM ranked x JOIN ranked y
               ON x.cid = y.cid AND x.rk > y.rk AND x.rk - y.rk <= 8
             JOIN e ex ON ex.vec_id = x.vec_id
             JOIN e ey ON ey.vec_id = y.vec_id
             WHERE ROUND({_ddb_cosine('ex.v', 'ey.v')}, 6) >= 0.4
             GROUP BY x.vec_id)
    SELECT r.vec_id, CAST(r.cid AS BIGINT) AS cluster_id,
           COALESCE(d.n_dups, 0) AS n_dups,
           d.n_dups IS NULL AS kept
    FROM ranked r LEFT JOIN dups d ON r.vec_id = d.vec_id
"""


@register("dedup_semantic", SEMANTIC_DEDUP_SQL)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] SemDeDup: cluster-scoped embedding dedup with rank-banded
    candidates (operators/similarity.py:semantic_dedup)."""
    return similarity.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


# [EXT] Distributed PCA (moment partials -> driver eigh -> broadcast
# projection).  The eigendecomposition is not SQL-expressible, so the
# oracle checks the flags-always-true invariant contract per vector.
SIM_PCA_SQL = f"""
    SELECT vec_id,
           CAST({similarity.PCA_COMPONENTS} AS INTEGER) AS n_components,
           TRUE AS proj_norm_ok,
           TRUE AS variance_ok,
           TRUE AS orthonormal_ok
    FROM embeddings
"""


@register("sim_pca_project", SIM_PCA_SQL)
def sim_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distributed PCA fit + projection invariants
    (operators/similarity.py:pca_fit_project)."""
    return similarity.pca_fit_project(load_table(spark, sf_dir, "embeddings"))


# [EXT] BM25 lexical retrieval over a postings table (Lucene idf form).
TEXT_BM25_SQL = r"""
    WITH words AS (SELECT doc_id,
                          unnest(string_split_regex(lower(text), '\s+')) AS w
                   FROM documents),
    postings AS (SELECT doc_id, w, COUNT(*) AS tf
                 FROM words WHERE w <> '' GROUP BY doc_id, w),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM postings GROUP BY doc_id),
    stats AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
                     (SELECT AVG(dl) FROM dl) AS avgdl),
    df_t AS (SELECT w, COUNT(*) AS df FROM postings GROUP BY w),
    qterms AS (SELECT query_id, w FROM (
        SELECT doc_id AS query_id, w,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tf DESC, w ASC) AS qrk
        FROM postings WHERE doc_id < 4) WHERE qrk <= 8),
    scored AS (
        SELECT q.query_id, p.doc_id,
               ROUND(SUM(ln(1.0 + (s.n - f.df + 0.5) / (f.df + 0.5))
                         * (p.tf * (1.2 + 1))
                         / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))),
                     6) AS score
        FROM postings p
        JOIN qterms q ON p.w = q.w AND p.doc_id <> q.query_id
        JOIN df_t f ON f.w = p.w
        JOIN dl d ON d.doc_id = p.doc_id
        CROSS JOIN stats s
        GROUP BY q.query_id, p.doc_id)
    SELECT query_id, doc_id, score,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, doc_id ASC)
                AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 10
"""


@register("text_bm25_topk", TEXT_BM25_SQL)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BM25 term-at-a-time retrieval (operators/text.py:bm25_topk)."""
    return text.bm25_topk(load_table(spark, sf_dir, "documents"))


def _ddb_dot_dim(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _ddb_cosine_dim(a: str, b: str, dim: int) -> str:
    return (
        f"({_ddb_dot_dim(a, b, dim)} / (sqrt({_ddb_dot_dim(a, a, dim)})"
        f" * sqrt({_ddb_dot_dim(b, b, dim)})))"
    )


# [EXT] Matryoshka prefix-dimension coarse tier + exact re-rank.
SIM_MRL_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
    coarse AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                      e.embedding, q.q_emb,
                      ROUND({_ddb_cosine_dim('e.embedding', 'q.q_emb',
                                             similarity.MRL_PREFIX_DIM)}, 6)
                          AS coarse_sim
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.query_id),
    short AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY coarse_sim DESC,
                                              neighbor_id ASC) AS crk
        FROM coarse) WHERE crk <= {similarity.MRL_SHORTLIST})
    SELECT query_id, neighbor_id,
           ROUND({_ddb_cosine('embedding', 'q_emb')}, 6) AS cos_sim,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY ROUND({_ddb_cosine('embedding', 'q_emb')}, 6) DESC,
                        neighbor_id ASC) AS INTEGER) AS rank
    FROM short
    QUALIFY rank <= 5
"""


@register("sim_matryoshka_topk", SIM_MRL_SQL)
def sim_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Prefix-dimension (Matryoshka) coarse tier + exact rerank
    (operators/similarity.py:matryoshka_topk)."""
    return similarity.matryoshka_topk(load_table(spark, sf_dir, "embeddings"))


# [EXT] Cumulative user-acquisition curve.
EVENTS_USER_GROWTH_SQL = """
    WITH first AS (SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
                   FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    daily AS (SELECT day, COUNT(*) AS new_users FROM first GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM daily
"""


@register("events_user_growth", EVENTS_USER_GROWTH_SQL)
def events_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] New + cumulative distinct users per day
    (operators/sessions.py:user_growth)."""
    return sessions.user_growth(load_table(spark, sf_dir, "events"))


# [EXT] Pareto activity-concentration report by user decile.
EVENTS_CONCENTRATION_SQL = """
    WITH per_user AS (SELECT user_id, COUNT(*) AS n_events
                      FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    bucketed AS (SELECT n_events,
                        NTILE(10) OVER (ORDER BY n_events DESC, user_id ASC)
                            AS decile
                 FROM per_user),
    agg AS (SELECT decile, COUNT(*) AS n_users,
                   CAST(SUM(n_events) AS BIGINT) AS n_events
            FROM bucketed GROUP BY decile)
    SELECT decile, n_users, n_events,
           ROUND(n_events / (SELECT SUM(n_events) FROM agg), 4) AS event_share
    FROM agg
"""


@register("events_concentration", EVENTS_CONCENTRATION_SQL)
def events_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Activity-decile Pareto shares
    (operators/sessions.py:event_concentration)."""
    return sessions.event_concentration(load_table(spark, sf_dir, "events"))


# [EXT] Embedding-space eval-set decontamination (semantic sibling of
# curation_contaminated).
CURATION_SEMANTIC_DECONTAM_SQL = f"""
    WITH ev AS (SELECT vec_id AS eval_vec_id, embedding AS ev_emb
                FROM embeddings WHERE vec_id < 8),
    scored AS (SELECT e.vec_id, ev.eval_vec_id,
                      ROUND({_ddb_cosine('e.embedding', 'ev.ev_emb')}, 6)
                          AS cos_sim
               FROM embeddings e CROSS JOIN ev
               WHERE e.vec_id >= 8)
    SELECT vec_id, ROUND(MAX(cos_sim), 6) AS max_cos,
           COUNT(*) AS n_eval_hits
    FROM scored WHERE cos_sim >= 0.4 GROUP BY vec_id
"""


@register("curation_semantic_decontam", CURATION_SEMANTIC_DECONTAM_SQL)
def curation_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Cosine decontamination against a broadcast eval set
    (operators/similarity.py:semantic_decontam)."""
    return similarity.semantic_decontam(load_table(spark, sf_dir, "embeddings"))


# [EXT] Markov stationary distribution: 3 power-iteration steps over
# the transition matrix, uniform start, per-step 6-digit rounding.
_MK_STEP = """
    {out} AS (SELECT p.next_type AS t, ROUND(SUM({prev}.pv * p.p), 6) AS pv
              FROM {prev} JOIN p ON {prev}.t = p.event_type
              GROUP BY p.next_type)"""

EVENTS_MARKOV_SQL = f"""
    WITH pairs AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events),
    trans AS (SELECT event_type, next_type, COUNT(*) AS n_trans
              FROM pairs WHERE next_type IS NOT NULL
              GROUP BY event_type, next_type),
    p AS (SELECT event_type, next_type,
                 n_trans * 1.0 / SUM(n_trans) OVER (PARTITION BY event_type)
                     AS p
          FROM trans),
    types AS (SELECT DISTINCT event_type AS t FROM trans
              UNION SELECT DISTINCT next_type FROM trans),
    pi0 AS (SELECT t, 1.0 / (SELECT COUNT(*) FROM types) AS pv FROM types),
    {_MK_STEP.format(out='pi1', prev='pi0')},
    {_MK_STEP.format(out='pi2', prev='pi1')},
    {_MK_STEP.format(out='pi3', prev='pi2')}
    SELECT t AS event_type, pv AS pi FROM pi3
"""


@register("events_markov_stationary", EVENTS_MARKOV_SQL)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Power-iteration stationary distribution
    (operators/sessions.py:markov_stationary)."""
    return sessions.markov_stationary(load_table(spark, sf_dir, "events"))


# [EXT] Epoch-repeat upsampling over the deterministically skewed
# source label (same 60/30/10 derivation as curation_temperature_mix).
CURATION_EPOCH_SQL = """
    WITH skewed AS (SELECT doc_id,
                           CASE WHEN doc_id % 10 < 6 THEN 'big'
                                WHEN doc_id % 10 < 9 THEN 'mid'
                                ELSE 'small' END AS source
                    FROM documents),
    counts AS (SELECT source, COUNT(*) AS n FROM skewed GROUP BY source),
    rep AS (SELECT source,
                   LEAST(4, (SELECT MAX(n) FROM counts) // n) AS n_epochs
            FROM counts)
    SELECT d.doc_id, d.source, r.n_epochs,
           unnest(range(r.n_epochs)) AS copy_idx
    FROM skewed d JOIN rep r USING (source)
"""


@register("curation_epoch_repeat", CURATION_EPOCH_SQL)
def curation_epoch_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Capped epoch-repeat upsampling
    (operators/curation.py:epoch_repeat)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, "big")
        .when(F.col("doc_id") % 10 < 9, "mid")
        .otherwise("small")
        .alias("source"),
    )
    return curation.epoch_repeat(docs)


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


@register("sql_recursive_spine", sql_surface.RECURSIVE_SPINE_SQL)
def sql_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] WITH RECURSIVE month spine + zero-filled monthly revenue
    (sql.recursive_spine_revenue)."""
    return sql_surface.recursive_spine_revenue(spark, sf_dir)


# [EXT] Hour-of-day seasonality + chi-square uniformity per type.
EVENTS_SEASONALITY_SQL = """
    WITH hourly AS (SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
                           COUNT(*) AS n
                    FROM events GROUP BY 1, 2)
    SELECT event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(arg_max(hr, n * 100 - hr) AS INT) AS peak_hour,
           ROUND(MAX(n) * 1.0 / SUM(n), 4) AS peak_share,
           ROUND(24.0 * SUM(n * n) / SUM(n) - SUM(n), 4) AS chi2,
           (24.0 * SUM(n * n) / SUM(n) - SUM(n)) < 35.17 AS is_uniform
    FROM hourly GROUP BY event_type
"""


@register("events_seasonality", EVENTS_SEASONALITY_SQL)
def events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Hourly seasonality profile + uniformity test
    (operators/sessions.py:hourly_seasonality)."""
    return sessions.hourly_seasonality(load_table(spark, sf_dir, "events"))


# [EXT] Corpus ↔ embedding-index integrity reconcile (single-shuffle
# tagged-union form).
DOCS_COVERAGE_SQL = """
    WITH tagged AS (
        SELECT doc_id AS k, 1 AS d, 0 AS e FROM documents
        UNION ALL
        SELECT vec_id AS k, 0 AS d, 1 AS e FROM embeddings),
    pk AS (SELECT k, MAX(d) AS in_docs, MAX(e) AS in_emb
           FROM tagged GROUP BY k)
    SELECT CAST(SUM(in_docs) AS BIGINT) AS n_docs,
           CAST(SUM(in_emb) AS BIGINT) AS n_embeddings,
           CAST(SUM(in_docs * in_emb) AS BIGINT) AS n_matched,
           CAST(SUM(in_docs * (1 - in_emb)) AS BIGINT) AS n_doc_only,
           CAST(SUM((1 - in_docs) * in_emb) AS BIGINT) AS n_emb_only,
           ROUND(SUM(in_docs * in_emb) * 1.0 / SUM(in_docs), 4) AS coverage
    FROM pk
"""


@register("docs_index_coverage", DOCS_COVERAGE_SQL)
def docs_index_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Document/embedding referential-integrity report
    (operators/relational.py:corpus_index_coverage)."""
    return relational.corpus_index_coverage(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


# [EXT] Vector-index health profile per label.
SIM_EMB_STATS_SQL = f"""
    WITH scored AS (
        SELECT label,
               sqrt({_ddb_dot('embedding', 'embedding')}) AS nrm,
               CASE WHEN sqrt({_ddb_dot('embedding', 'embedding')}) = 0.0
                    THEN 1 ELSE 0 END AS is_zero,
               CASE WHEN len(embedding) <> {similarity.EMB_DIM}
                    THEN 1 ELSE 0 END AS bad_dim
        FROM embeddings)
    SELECT label, COUNT(*) AS n_vectors,
           ROUND(AVG(nrm), 4) AS mean_norm,
           ROUND(quantile_cont(nrm, 0.5), 4) AS median_norm,
           ROUND(quantile_cont(nrm, 0.95), 4) AS p95_norm,
           CAST(SUM(is_zero) AS BIGINT) AS n_zero,
           CAST(SUM(bad_dim) AS BIGINT) AS n_bad_dim
    FROM scored GROUP BY label
"""


@register("sim_embedding_stats", SIM_EMB_STATS_SQL)
def sim_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Embedding-index health profile
    (operators/similarity.py:embedding_stats)."""
    return similarity.embedding_stats(load_table(spark, sf_dir, "embeddings"))


# [EXT] Stratified eval split: exact ceil(10% of n_s) per source.
CURATION_STRATIFIED_SQL = f"""
    WITH ranked AS (
        SELECT doc_id, source,
               COUNT(*) OVER (PARTITION BY source) AS n_source,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY ({_DDB_BUCKET}) ASC, doc_id ASC)
                   AS rk
        FROM documents)
    SELECT doc_id, source, n_source,
           CASE WHEN rk <= (n_source * 1000 + 9999) // 10000
                THEN 'eval' ELSE 'train' END AS split
    FROM ranked
"""


@register("curation_stratified_split", CURATION_STRATIFIED_SQL)
def curation_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Guaranteed-proportion stratified eval split
    (operators/curation.py:stratified_split)."""
    return curation.stratified_split(load_table(spark, sf_dir, "documents"))


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


# [EXT] Two-proportion A/B readout on an md5-parity user split.
_DDB_USER_BUCKET = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(cast(user_id as varchar)),"
    f" {k + 1}, 1)) - 1) * {16 ** (3 - k)}"
    for k in range(4)
)

EVENTS_AB_SQL = f"""
    WITH per_user AS (
        SELECT user_id, SUM(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS n_conv_events
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    med AS (SELECT quantile_cont(n_conv_events, 0.5) AS med FROM per_user),
    assigned AS (SELECT ({_DDB_USER_BUCKET}) % 2 AS arm,
                        CASE WHEN n_conv_events > med THEN 1 ELSE 0 END
                            AS converted
                 FROM per_user CROSS JOIN med),
    arms AS (SELECT CAST(SUM(CASE WHEN arm = 0
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                    CAST(SUM(CASE WHEN arm = 1
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                    SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS conv_a,
                    SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS conv_b
             FROM assigned),
    calc AS (SELECT n_a, n_b, conv_a, conv_b,
                    CASE WHEN n_a > 0 THEN conv_a * 1.0 / n_a END AS p_a,
                    CASE WHEN n_b > 0 THEN conv_b * 1.0 / n_b END AS p_b,
                    (conv_a + conv_b) * 1.0 / (n_a + n_b) AS pool,
                    (n_a > 0 AND n_b > 0
                     AND (conv_a + conv_b) * 1.0 / (n_a + n_b) > 0
                     AND (conv_a + conv_b) * 1.0 / (n_a + n_b) < 1)
                        AS testable
             FROM arms)
    SELECT n_a, n_b,
           COALESCE(ROUND(p_a, 4), 0.0) AS rate_a,
           COALESCE(ROUND(p_b, 4), 0.0) AS rate_b,
           COALESCE(ROUND(p_a - p_b, 4), 0.0) AS lift,
           testable,
           COALESCE(ROUND(CASE WHEN testable THEN (p_a - p_b)
                          / sqrt(pool * (1 - pool)
                                 * (1.0 / n_a + 1.0 / n_b)) END, 3), 0.0)
               AS z_stat,
           COALESCE(CASE WHEN testable THEN abs((p_a - p_b)
                         / sqrt(pool * (1 - pool)
                                * (1.0 / n_a + 1.0 / n_b))) > 1.96 END,
                    FALSE) AS significant
    FROM calc
"""


@register("events_ab_test", EVENTS_AB_SQL)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deterministic-split A/B conversion readout with
    two-proportion z-test (operators/sessions.py:ab_conversion_test)."""
    return sessions.ab_conversion_test(load_table(spark, sf_dir, "events"))


# [EXT] SimHash-vs-exact-Jaccard evaluation harness: compose the two
# registered pair oracles and reconcile on the pair key.
DEDUP_EVAL_SQL = f"""
    WITH truth AS (
        WITH {_CAPPED_SHINGLE_CTES},
        cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                 FROM shingles x JOIN shingles y
                   ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
        {_JACCARD_TAIL}
        WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.6
    ),
    pred AS (
        WITH {_SIMHASH_CTES},
        blocks AS ({_SIM_BLOCKS}),
        pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         bit_count(xor(a.simhash, b.simhash)) AS hamming
                  FROM blocks a JOIN blocks b
                    ON a.block_idx = b.block_idx AND a.block_val = b.block_val
                   AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b FROM pairs WHERE hamming <= 3
    ),
    tagged AS (SELECT doc_a, doc_b, 1 AS t, 0 AS p FROM truth
               UNION ALL SELECT doc_a, doc_b, 0 AS t, 1 AS p FROM pred),
    pk AS (SELECT doc_a, doc_b, MAX(t) AS in_t, MAX(p) AS in_p
           FROM tagged GROUP BY doc_a, doc_b),
    m AS (SELECT CAST(SUM(in_t) AS BIGINT) AS n_truth,
                 CAST(SUM(in_p) AS BIGINT) AS n_pred,
                 CAST(SUM(in_t * in_p) AS BIGINT) AS tp
          FROM pk)
    SELECT n_truth, n_pred, tp,
           (n_truth > 0 AND n_pred > 0) AS evaluable,
           COALESCE(ROUND(CASE WHEN n_pred > 0
                               THEN tp * 1.0 / n_pred END, 4), 0.0)
               AS precision,
           COALESCE(ROUND(CASE WHEN n_truth > 0
                               THEN tp * 1.0 / n_truth END, 4), 0.0)
               AS recall,
           COALESCE(ROUND(CASE WHEN n_truth > 0 AND n_pred > 0
                               AND tp * 1.0 / n_pred + tp * 1.0 / n_truth > 0
                               THEN 2 * (tp * 1.0 / n_pred) * (tp * 1.0 / n_truth)
                                    / (tp * 1.0 / n_pred + tp * 1.0 / n_truth)
                          END, 4), 0.0) AS f1
    FROM m
"""


@register("dedup_eval_pr", DEDUP_EVAL_SQL)
def dedup_eval_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Precision/recall of the SimHash tier vs exact Jaccard
    truth (operators/dedup.py:dedup_eval_pr)."""
    return dedup.dedup_eval_pr(load_table(spark, sf_dir, "documents"))


# [EXT] ANN recall harness: compose the registered brute-force truth
# and LSH-ANN oracles (registration order guarantees both exist here).
SIM_EVAL_RECALL_SQL = f"""
    WITH truth AS (SELECT query_id, neighbor_id, rank AS t_rank
                   FROM ({ORACLE_SQL["sim_brute_topk"]}) WHERE rank <= 5),
    pred AS (SELECT query_id, neighbor_id, rank AS p_rank
             FROM ({ORACLE_SQL["sim_lsh_ann_topk"]})),
    j AS (SELECT t.query_id, t.t_rank, p.p_rank
          FROM truth t LEFT JOIN pred p
            ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id)
    SELECT query_id,
           COUNT(p_rank) AS n_hit,
           ROUND(COUNT(p_rank) / 5.0, 4) AS recall,
           ROUND(MAX(CASE WHEN t_rank = 1
                          THEN COALESCE(1.0 / p_rank, 0.0)
                          ELSE 0.0 END), 4) AS rr_top1
    FROM j GROUP BY query_id
"""


@register("sim_eval_recall", SIM_EVAL_RECALL_SQL)
def sim_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-query LSH-ANN recall@5 + top-1 reciprocal rank vs
    exact truth (operators/similarity.py:ann_recall_eval)."""
    return similarity.ann_recall_eval(load_table(spark, sf_dir, "embeddings"))


# [EXT] Point-in-time per-(user, day) training features.
EVENTS_FEATURES_SQL = """
    WITH daily AS (
        SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS day_value,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id, day)
    SELECT user_id,
           strftime(day, '%Y-%m-%d') AS day,
           n_events, day_value, n_purchases,
           CAST(COALESCE(SUM(n_events) OVER (
                        PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS events_prev7,
           COALESCE(day - LAG(day) OVER (PARTITION BY user_id ORDER BY day),
                    -1) AS days_since_prev,
           CAST(SUM(n_events) OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS events_lifetime,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                AS INTEGER) AS active_day_idx
    FROM daily
"""


@register("events_user_features", EVENTS_FEATURES_SQL)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Leakage-safe per-(user, day) feature materialization
    (operators/sessions.py:user_day_features)."""
    return sessions.user_day_features(load_table(spark, sf_dir, "events"))


# [EXT] One-pass corpus datacard (metric, value) block.
TEXT_DATACARD_SQL = r"""
    WITH agg AS (
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT source) AS n_sources,
               COUNT(DISTINCT lang) AS n_langs,
               SUM(length(text)) AS total_chars,
               SUM(len(string_split_regex(lower(text), '\s+')))
                   AS total_tokens,
               COUNT(DISTINCT sha256(text)) AS distinct_texts
        FROM documents)
    SELECT metric, value FROM (
        SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM agg
        UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM agg
        UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM agg
        UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM agg
        UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM agg
        UNION ALL SELECT 'mean_doc_tokens',
                         ROUND(total_tokens * 1.0 / n_docs, 4) FROM agg
        UNION ALL SELECT 'distinct_texts',
                         CAST(distinct_texts AS DOUBLE) FROM agg
        UNION ALL SELECT 'exact_dup_rate',
                         ROUND(1.0 - distinct_texts * 1.0 / n_docs, 4) FROM agg
    )
"""


@register("text_datacard", TEXT_DATACARD_SQL)
def text_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] One-pass corpus datacard (operators/text.py:corpus_datacard)."""
    return text.corpus_datacard(load_table(spark, sf_dir, "documents"))


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


@register("sql_lateral_topn", sql_surface.LATERAL_TOPN_SQL)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Correlated LATERAL top-N per customer
    (sql.lateral_topn_orders)."""
    return sql_surface.lateral_topn_orders(spark, sf_dir)


# [EXT] Per-user event-type Shannon entropy (bot/diversity signal).
EVENTS_ENTROPY_SQL = """
    WITH ut AS (SELECT user_id, event_type, COUNT(*) AS n
                FROM events WHERE user_id IS NOT NULL
                GROUP BY user_id, event_type),
    per_user AS (SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
                        COUNT(*) AS n_types,
                        SUM(n * ln(n)) AS sum_nlogn
                 FROM ut GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           ROUND(ln(n_events) - sum_nlogn / n_events, 4) AS entropy,
           ROUND(CASE WHEN n_types > 1
                      THEN (ln(n_events) - sum_nlogn / n_events)
                           / ln(CAST(n_types AS DOUBLE))
                      ELSE 0.0 END, 4) AS norm_entropy
    FROM per_user
"""


@register("events_user_entropy", EVENTS_ENTROPY_SQL)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Behavioral entropy per user
    (operators/sessions.py:user_behavior_entropy)."""
    return sessions.user_behavior_entropy(load_table(spark, sf_dir, "events"))


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


# [EXT] Pooled retention curve over the cohort matrix (composes the
# registered cohort oracle).
EVENTS_RETENTION_CURVE_SQL = f"""
    WITH m AS ({ORACLE_SQL["events_retention_cohorts"]}),
    sizes AS (SELECT cohort_day, active_users AS cohort_size
              FROM m WHERE day_offset = 0),
    max_off AS (SELECT cohort_day, MAX(day_offset) AS max_offset
                FROM m GROUP BY cohort_day),
    eligible AS (SELECT s.cohort_day, s.cohort_size, x.max_offset
                 FROM sizes s JOIN max_off x USING (cohort_day)),
    offsets AS (SELECT DISTINCT day_offset FROM m),
    denom AS (SELECT o.day_offset,
                     CAST(SUM(e.cohort_size) AS BIGINT) AS eligible_users,
                     COUNT(*) AS n_cohorts
              FROM offsets o JOIN eligible e
                ON e.max_offset >= o.day_offset
              GROUP BY o.day_offset),
    act AS (SELECT day_offset,
                   CAST(SUM(active_users) AS BIGINT) AS active_users
            FROM m GROUP BY day_offset)
    SELECT a.day_offset, d.n_cohorts, a.active_users, d.eligible_users,
           ROUND(a.active_users * 1.0 / d.eligible_users, 4) AS retention
    FROM act a JOIN denom d USING (day_offset)
"""


@register("events_retention_curve", EVENTS_RETENTION_CURVE_SQL)
def events_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Pooled day-N retention curve
    (operators/sessions.py:retention_curve)."""
    return sessions.retention_curve(load_table(spark, sf_dir, "events"))


# [EXT] Exact log2-bucket length histogram (bit-length buckets).
TEXT_LENHIST_SQL = """
    WITH hist AS (SELECT length(bin(length(text))) AS log2_bucket,
                         COUNT(*) AS n_docs,
                         MIN(length(text)) AS min_chars,
                         MAX(length(text)) AS max_chars
                  FROM documents GROUP BY log2_bucket)
    SELECT log2_bucket, n_docs, min_chars, max_chars,
           ROUND(n_docs * 1.0 / (SELECT SUM(n_docs) FROM hist), 4) AS share
    FROM hist
"""


@register("docs_length_histogram", TEXT_LENHIST_SQL)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Log2 document-length histogram
    (operators/text.py:length_histogram)."""
    return text.length_histogram(load_table(spark, sf_dir, "documents"))


# [EXT] Recall harness for the IVF-PQ + rerank stack (composes the
# registered truth and rerank oracles).
SIM_EVAL_IVFPQ_SQL = f"""
    WITH truth AS (SELECT query_id, neighbor_id, rank AS t_rank
                   FROM ({ORACLE_SQL["sim_brute_topk"]}) WHERE rank <= 5),
    pred AS (SELECT query_id, neighbor_id, rank AS p_rank
             FROM ({ORACLE_SQL["sim_ivfpq_rerank_topk"]})),
    j AS (SELECT t.query_id, t.t_rank, p.p_rank
          FROM truth t LEFT JOIN pred p
            ON t.query_id = p.query_id AND t.neighbor_id = p.neighbor_id)
    SELECT query_id,
           COUNT(p_rank) AS n_hit,
           ROUND(COUNT(p_rank) / 5.0, 4) AS recall,
           ROUND(MAX(CASE WHEN t_rank = 1
                          THEN COALESCE(1.0 / p_rank, 0.0)
                          ELSE 0.0 END), 4) AS rr_top1
    FROM j GROUP BY query_id
"""


@register("sim_eval_recall_ivfpq", SIM_EVAL_IVFPQ_SQL)
def sim_eval_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-query IVF-PQ-rerank recall@5 + top-1 RR vs exact
    truth (operators/similarity.py:ivfpq_recall_eval)."""
    return similarity.ivfpq_recall_eval(load_table(spark, sf_dir, "embeddings"))


@register("sql_group_by_all", sql_surface.GROUP_BY_ALL_SQL)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GROUP BY ALL / ORDER BY ALL shorthand surface
    (sql.group_by_all_revenue)."""
    return sql_surface.group_by_all_revenue(spark, sf_dir)


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


# [EXT] Aggregate funnel conversion report (composes the funnel oracle).
EVENTS_FUNNEL_RATES_SQL = f"""
    WITH f AS ({ORACLE_SQL["events_funnel"]}),
    reached AS (SELECT
        CAST(COALESCE(SUM(CASE WHEN steps_completed >= 1
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS r0,
        CAST(COALESCE(SUM(CASE WHEN steps_completed >= 2
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS r1,
        CAST(COALESCE(SUM(CASE WHEN steps_completed >= 3
                               THEN 1 ELSE 0 END), 0) AS BIGINT) AS r2,
        COUNT(*) AS total FROM f)
    SELECT step_idx, step, n_reached,
           CASE WHEN COALESCE(n_prev, total) > 0 AND total > 0
                THEN ROUND(n_reached * 1.0 / COALESCE(n_prev, total), 4)
                ELSE 0.0 END AS step_rate,
           CASE WHEN total > 0
                THEN ROUND(n_reached * 1.0 / total, 4)
                ELSE 0.0 END AS overall_rate,
           (COALESCE(n_prev, total) > 0 AND total > 0) AS rate_defined
    FROM (
        SELECT 1 AS step_idx, 'view' AS step, r0 AS n_reached,
               CAST(NULL AS BIGINT) AS n_prev, total FROM reached
        UNION ALL
        SELECT 2, 'click', r1, r0, total FROM reached
        UNION ALL
        SELECT 3, 'purchase', r2, r1, total FROM reached
    )
"""


@register("events_funnel_rates", EVENTS_FUNNEL_RATES_SQL)
def events_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Step/overall funnel conversion rates
    (operators/sessions.py:funnel_step_rates)."""
    return sessions.funnel_step_rates(load_table(spark, sf_dir, "events"))


