"""Round-7 additions: exact-substring trim, IDF-weighted Jaccard,
and the Spark-4 DataSketches tier (mergeable KLL quantiles + Theta
set-operation retention).

In-repo oracle parity: the pytest ORACLE_CHECKED lists.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup
from ..sources.tables import load_table
from ._base import register

# DuckDB mirror of dedup.trim_duplicated_spans (n=8, min_docs=2).
# Gram at 1-based start idx covers token positions idx .. idx+7; the
# rewrite anti-joins the positional token table against the covered
# set and reassembles with list(tok ORDER BY p).  COALESCE(text, '')
# mirrors the operator's NULL-text guard (Spark size(split(NULL)) is
# -1 vs SQL NULL — see trim_duplicated_spans docstring).
SPAN_TRIM_SQL = """
    WITH b2 AS (SELECT doc_id,
                       string_split(COALESCE(text, ''), ' ') AS t,
                       len(string_split(COALESCE(text, ''), ' '))
                           AS n_words
                FROM documents),
    idxs AS (SELECT doc_id, t, unnest(range(1, n_words - 6)) AS idx
             FROM b2 WHERE n_words >= 8),
    occ AS (SELECT doc_id, idx,
                   array_to_string(t[idx : idx + 7], ' ') AS g
            FROM idxs),
    dup AS (SELECT g FROM occ GROUP BY g
            HAVING COUNT(DISTINCT doc_id) >= 2),
    cov AS (SELECT DISTINCT doc_id, p FROM (
                SELECT o.doc_id, unnest(range(o.idx, o.idx + 8)) AS p
                FROM occ o JOIN dup USING (g))),
    toks AS (SELECT doc_id, unnest(t) AS tok,
                    unnest(range(1, n_words + 1)) AS p
             FROM b2),
    kept AS (SELECT tk.doc_id, tk.p, tk.tok
             FROM toks tk LEFT JOIN cov c
               ON tk.doc_id = c.doc_id AND tk.p = c.p
             WHERE c.doc_id IS NULL),
    reb AS (SELECT doc_id, COUNT(*) AS kept_tokens,
                   array_to_string(list(tok ORDER BY p), ' ')
                       AS trimmed_text
            FROM kept GROUP BY doc_id)
    SELECT b2.doc_id,
           b2.n_words,
           CAST(COALESCE(reb.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(b2.n_words - COALESCE(reb.kept_tokens, 0) AS BIGINT)
               AS removed_tokens,
           COALESCE(reb.trimmed_text, '') AS trimmed_text
    FROM b2 LEFT JOIN reb USING (doc_id)
"""


@register("dedup_span_trim", SPAN_TRIM_SQL)
def dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact duplicated-substring removal — the rewrite policy
    over dedup_span_coverage's measurement
    (operators/dedup.py:trim_duplicated_spans)."""
    return dedup.trim_duplicated_spans(load_table(spark, sf_dir, "documents"))


# DuckDB mirror of dedup.weighted_jaccard_pairs (threshold 0.5, df cap
# shared with the ngram-Jaccard family).  ROUND-before-compare on the
# score keeps the pair set identical across engines' sum orders.
WEIGHTED_JACCARD_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents
                  WHERE len(string_split(text, ' ')) >= 3),
    all_shingles AS (SELECT DISTINCT doc_id, u.s AS shingle
                 FROM toks, UNNEST(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)),
    shingles AS (SELECT a.doc_id, a.shingle FROM all_shingles a
                 JOIN (SELECT shingle FROM all_shingles GROUP BY shingle
                       HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF}) r
                   ON a.shingle = r.shingle),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM shingles),
    dfw AS (SELECT shingle,
                   ln((SELECT n_docs FROM nd) * 1.0 / COUNT(*)) AS w
            FROM shingles GROUP BY shingle),
    sw AS (SELECT s.doc_id, s.shingle, d.w
           FROM shingles s JOIN dfw d USING (shingle)),
    wsz AS (SELECT doc_id, SUM(w) AS wtot FROM sw GROUP BY doc_id),
    winter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
                      SUM(x.w) AS wi
               FROM sw x JOIN sw y
                 ON x.shingle = y.shingle AND x.doc_id < y.doc_id
               GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b,
           ROUND(wi / (za.wtot + zb.wtot - wi), 4) AS w_jaccard
    FROM winter
    JOIN wsz za ON doc_a = za.doc_id
    JOIN wsz zb ON doc_b = zb.doc_id
    WHERE (za.wtot + zb.wtot - wi) > 0
      AND ROUND(wi / (za.wtot + zb.wtot - wi), 4) >= 0.5
"""


@register("dedup_weighted_jaccard", WEIGHTED_JACCARD_SQL)
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] IDF-weighted Jaccard near-dup pairs — rare-content
    overlap scores high, boilerplate overlap scores low
    (operators/dedup.py:weighted_jaccard_pairs)."""
    return dedup.weighted_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 0.5
    )


# Invariant-form oracle (sketch bytes aren't SQL-portable): the exact
# counts plus always-TRUE flags the Spark side must reproduce — same
# convention as events_sketch_merge / events_bitmap_users.  The
# event_type IS NOT NULL mirrors the operator's guard (its rank pass
# rejoins on event_type, and an equi-join drops a NULL-keyed group a
# plain GROUP BY would emit — see mergeable_value_quantiles).
KLL_QUANTILES_SQL = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           TRUE AS n_ok,
           TRUE AS q50_ok,
           TRUE AS q90_ok,
           TRUE AS q99_ok
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type
"""


@register("events_kll_quantiles", KLL_QUANTILES_SQL)
def events_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Mergeable KLL quantile rollup: per-(type, day) sketch
    partials merged per type, estimates rank-checked against the raw
    values (functions/scalars.py:mergeable_value_quantiles)."""
    from ..functions import scalars

    return scalars.mergeable_value_quantiles(load_table(spark, sf_dir, "events"))


# LAG over the DISTINCT days actually present — a data gap pairs
# across it — exactly as the Spark window does.
THETA_RETENTION_SQL = """
    WITH ud AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d,
                       user_id
                FROM events WHERE user_id IS NOT NULL),
    days AS (SELECT d, LAG(d) OVER (ORDER BY d) AS prev_d
             FROM (SELECT DISTINCT d FROM ud)),
    dp AS (SELECT d, prev_d FROM days WHERE prev_d IS NOT NULL),
    ret AS (SELECT u.d, COUNT(*) AS n_ret
            FROM ud u
            JOIN dp ON u.d = dp.d
            JOIN ud p ON p.user_id = u.user_id AND p.d = dp.prev_d
            GROUP BY u.d),
    tot AS (SELECT d, COUNT(*) AS n_users FROM ud GROUP BY d)
    SELECT strftime(dp.d, '%Y-%m-%d') AS day,
           CAST(COALESCE(ret.n_ret, 0) AS BIGINT) AS exact_retained,
           CAST(tot.n_users - COALESCE(ret.n_ret, 0) AS BIGINT) AS exact_new,
           TRUE AS retained_ok,
           TRUE AS new_ok
    FROM dp
    LEFT JOIN ret ON dp.d = ret.d
    JOIN tot ON dp.d = tot.d
"""


@register("events_theta_retention", THETA_RETENTION_SQL)
def events_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Theta-sketch day-over-day retention: stored daily
    sketches answer retained/new distinct counts by set INTERSECTION
    and DIFFERENCE — the re-aggregatable set-op capability HLL lacks
    (functions/scalars.py:theta_retained_users)."""
    from ..functions import scalars

    return scalars.theta_retained_users(load_table(spark, sf_dir, "events"))
