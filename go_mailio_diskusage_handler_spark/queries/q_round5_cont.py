"""Round-5 continuation additions, batch 1.

Split from the monolithic registry.py in round 6; registration
order is preserved by the import sequence in ``..registry``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import scalars
from ..operators import core, relational
from ..sources.tables import load_table
from ._base import register
from ..operators import curation, dedup, multimodal  # noqa: E402
from .q_quality_ann import _INV_SLICE_SQL
from .q_similarity import _ddb_cosine
from .q_dedup import _BAND_SELECTS
from .q_dedup import _MINHASH_AGGS
from ..operators import sessions  # noqa: E402
from .q_dedup import _CAPPED_SHINGLE_CTES
from .q_dedup import _JACCARD_TAIL
from .. import sql as sql_surface  # noqa: E402
from .q_dedup import _SHINGLE_CTES
from .q_curation import _DDB_BUCKET
from ..operators import similarity  # noqa: E402
from ..operators import text  # noqa: E402


# ---------------------------------------------------------------------------
# Round-5 continuation additions (all below this line).
# ---------------------------------------------------------------------------

# [EXT] PII detection + redaction.  The fixture text is synthetic word
# soup with no organic PII, so the query derives a deterministic
# PII-bearing text column FROM fixture columns (doc_id-keyed email /
# IPv4 / phone / account-number injections on coprime residue classes
# so every subset combination occurs, including none) and both engines
# run detection+redaction on that derived column.
_PII_INJECT_SQL = """
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 4 = 0
                   THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
                        || '.0.' || CAST(doc_id % 250 AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' acct ' || lpad(CAST(doc_id AS VARCHAR), 9, '0')
                   ELSE '' END AS text
    FROM documents
"""

_PII_RED_SQL = "text"
for _pat, _repl in (
    (text.PII_EMAIL, "<EMAIL>"),
    (text.PII_IPV4, "<IP>"),
    (text.PII_PHONE, "<PHONE>"),
    (text.PII_DIGIT_RUN, "<ID>"),
):
    _PII_RED_SQL = f"regexp_replace({_PII_RED_SQL}, '{_pat}', '{_repl}', 'g')"

TEXT_PII_SQL = f"""
    WITH pii_docs AS ({_PII_INJECT_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{text.PII_EMAIL}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{text.PII_IPV4}')) AS INTEGER) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{text.PII_PHONE}')) AS INTEGER) AS n_phones,
           CAST(len(regexp_extract_all(text, '{text.PII_DIGIT_RUN}')) AS INTEGER) AS n_id_runs,
           sha256({_PII_RED_SQL}) AS redacted_sha,
           CAST(len(regexp_extract_all(text, '{text.PII_EMAIL}'))
                + len(regexp_extract_all(text, '{text.PII_IPV4}'))
                + len(regexp_extract_all(text, '{text.PII_PHONE}'))
                + len(regexp_extract_all(text, '{text.PII_DIGIT_RUN}')) AS INTEGER) AS n_pii
    FROM pii_docs
"""


def _pii_injected_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" mail u"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" host 10."),
                (did % 200).cast("string"),
                F.lit(".0."),
                (did % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call 555-010-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" acct "), F.lpad(did.cast("string"), 9, "0")),
        ).otherwise(F.lit("")),
    )
    return d.select("doc_id", txt.alias("text"))


@register("text_pii", TEXT_PII_SQL)
def text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] PII detect + redact over a deterministically PII-injected
    derivation of ``documents`` (see operators/text.py:pii_signals)."""
    return text.pii_signals(_pii_injected_docs(spark, sf_dir))


# [EXT] Exact duplicated-substring coverage (Lee-et-al-style): n=8
# word-grams occurring in >= 2 distinct docs, per-doc covered-token
# fraction.
DEDUP_SPAN_SQL = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    occ AS (SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g
            FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)),
    dupg AS (SELECT g FROM occ GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
    cov AS (SELECT DISTINCT doc_id, p
            FROM (SELECT o.doc_id, o.pos FROM occ o JOIN dupg USING (g)) h,
                 UNNEST(range(h.pos, h.pos + 8)) AS v(p)),
    per AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY doc_id)
    SELECT t.doc_id, len(t.t) AS n_words,
           CAST(coalesce(per.covered, 0) AS BIGINT) AS covered_tokens,
           ROUND(coalesce(per.covered, 0) * 1.0 / len(t.t), 4) AS dup_span_frac
    FROM toks t LEFT JOIN per USING (doc_id)
"""


@register("dedup_span_coverage", DEDUP_SPAN_SQL)
def dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Distributed exact-substring dedup signal
    (operators/dedup.py:duplicated_span_coverage)."""
    return dedup.duplicated_span_coverage(load_table(spark, sf_dir, "documents"))


# [EXT] Distributed k-means training (Lloyd): k=8 init from the 8
# lowest vec_ids, 2 unrolled update iterations, 6-digit rounding of
# means and distances each round in both engines, cid tie-break.
def _km_dist(a: str, b: str) -> str:
    return (
        f"ROUND(list_sum(list_transform(range(1, {similarity.EMB_DIM + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), 6)"
    )


def _km_assign_cte(src: str, cents: str, out: str) -> str:
    d = _km_dist("e.v", "c.v")
    return f"""
    {out} AS (SELECT vec_id, cid, d FROM (
        SELECT e.vec_id, c.cid, {d} AS d,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {d} ASC, c.cid ASC) AS rn
        FROM {src} e, {cents} c) WHERE rn = 1)"""


def _km_update_cte(assign: str, out: str) -> str:
    return f"""
    {out} AS (SELECT cid, list(val ORDER BY i) AS v FROM (
        SELECT a.cid, u.i, ROUND(avg(e.v[u.i]), 6) AS val
        FROM {assign} a JOIN e USING (vec_id),
             UNNEST(range(1, {similarity.EMB_DIM + 1})) AS u(i)
        GROUP BY a.cid, u.i) GROUP BY cid)"""


SIM_KMEANS_SQL = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < {similarity.KM_K}),
    {_km_assign_cte('e', 'c0', 'a1')},
    {_km_update_cte('a1', 'c1')},
    {_km_assign_cte('e', 'c1', 'a2')},
    {_km_update_cte('a2', 'c2')},
    {_km_assign_cte('e', 'c2', 'a3')}
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, d AS dist_sq FROM a3
"""


@register("sim_kmeans_train", SIM_KMEANS_SQL)
def sim_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Lloyd k-means codebook training, final assignment
    (operators/similarity.py:kmeans_train)."""
    return similarity.kmeans_train(load_table(spark, sf_dir, "embeddings"))


# [EXT] Temperature-based source rebalancing: keep rate sqrt(n_min/n_s)
# realizes q_s ∝ sqrt(p_s) (alpha = 1/2) with the smallest source kept
# whole; cutoff = floor(rate·2^16) over the md5 bucket is bit-exact in
# both engines (integer-ratio sqrt, power-of-two scaling).  The
# fixture's sources are uniform (every rate would be 1.0), so the
# query derives a deterministically SKEWED source label (60/30/10 by
# doc_id residue) and rebalances that — exercising the sub-1 rates.
CURATION_TEMP_SQL = f"""
    WITH skewed AS (SELECT doc_id,
                           CASE WHEN doc_id % 10 < 6 THEN 'big'
                                WHEN doc_id % 10 < 9 THEN 'mid'
                                ELSE 'small' END AS source
                    FROM documents),
    counts AS (SELECT source, count(*) AS n FROM skewed GROUP BY source),
    cut AS (SELECT source,
                   CAST(floor(sqrt((SELECT min(n) FROM counts) * 1.0 / n) * 65536)
                        AS BIGINT) AS cutoff
            FROM counts)
    SELECT d.doc_id, d.source,
           ROUND(cut.cutoff / 65536.0, 6) AS keep_rate
    FROM skewed d JOIN cut USING (source)
    WHERE ({_DDB_BUCKET}) < cut.cutoff
"""


@register("curation_temperature_mix", CURATION_TEMP_SQL)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] alpha=0.5 temperature sampling
    (operators/curation.py:temperature_sample) over a derived
    60/30/10-skewed source labeling."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    skewed = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, F.lit("big"))
        .when(F.col("doc_id") % 10 < 9, F.lit("mid"))
        .otherwise(F.lit("small"))
        .alias("source"),
    )
    return curation.temperature_sample(skewed)


# [EXT] Z-order (Morton) clustering keys over (o_custkey,
# o_totalprice): exact-integer quantization to 2^8 buckets per dim,
# bit-interleaved — the layout primitive for multi-dimensional data
# skipping.  All integer math, bit-identical across engines.
ZORDER_SQL = """
    WITH stats AS (SELECT min(o_custkey) AS lo_x, max(o_custkey) AS hi_x,
                          min(CAST(floor(o_totalprice) AS BIGINT)) AS lo_y,
                          max(CAST(floor(o_totalprice) AS BIGINT)) AS hi_y
                   FROM orders),
    b AS (SELECT o_orderkey,
                 (o_custkey - lo_x) * 256 // (hi_x - lo_x + 1) AS bucket_x,
                 (CAST(floor(o_totalprice) AS BIGINT) - lo_y) * 256
                     // (hi_y - lo_y + 1) AS bucket_y
          FROM orders, stats)
    SELECT o_orderkey, bucket_x, bucket_y,
           CAST(((bucket_x >> 0) & 1) * 1 + ((bucket_y >> 0) & 1) * 2 + ((bucket_x >> 1) & 1) * 4 + ((bucket_y >> 1) & 1) * 8 + ((bucket_x >> 2) & 1) * 16 + ((bucket_y >> 2) & 1) * 32 + ((bucket_x >> 3) & 1) * 64 + ((bucket_y >> 3) & 1) * 128 + ((bucket_x >> 4) & 1) * 256 + ((bucket_y >> 4) & 1) * 512 + ((bucket_x >> 5) & 1) * 1024 + ((bucket_y >> 5) & 1) * 2048 + ((bucket_x >> 6) & 1) * 4096 + ((bucket_y >> 6) & 1) * 8192 + ((bucket_x >> 7) & 1) * 16384 + ((bucket_y >> 7) & 1) * 32768 AS BIGINT) AS z_key
    FROM b
"""


@register("scalar_zorder_keys", ZORDER_SQL)
def scalar_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Morton z-order clustering keys
    (operators/relational.py:zorder_keys)."""
    return relational.zorder_keys(load_table(spark, sf_dir, "orders"))


# [EXT] Bloom-prefiltered decontamination: same semantics as
# curation_contaminated but NO df cap and a broadcast bitmap
# prefilter on the train scan; the oracle is the plain exact overlap
# (bloom false positives are cleared by the exact join, false
# negatives are impossible — so equality to the exact result IS the
# property under test).
CURATION_BLOOM_SQL = f"""
    WITH {_SHINGLE_CTES},
    train AS (SELECT doc_id, shingle FROM shingles WHERE doc_id >= 200),
    ev AS (SELECT doc_id AS eval_doc_id, shingle FROM shingles WHERE doc_id < 200),
    overlap AS (SELECT t.doc_id, e.eval_doc_id, COUNT(*) AS n_overlap
                FROM train t JOIN ev e ON t.shingle = e.shingle
                GROUP BY 1, 2
                HAVING COUNT(*) >= 3)
    SELECT doc_id, MAX(n_overlap) AS max_overlap, COUNT(*) AS n_eval_docs
    FROM overlap GROUP BY doc_id
"""


@register("curation_bloom_decontam", CURATION_BLOOM_SQL)
def curation_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Bloom-prefiltered decontamination
    (operators/curation.py:bloom_prefiltered_contamination)."""
    return curation.bloom_prefiltered_contamination(
        load_table(spark, sf_dir, "documents"), 200, 3
    )


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


# [EXT] Overlapping token-window chunking (window 32, stride 24):
# chunk starts 1, 25, 49, … ≤ n_words; chunk_id = (start-1)/stride+1
# in both engines (no ordinality needed).
TEXT_CHUNKS_SQL = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           CAST((s - 1) // 24 + 1 AS BIGINT) AS chunk_id,
           CAST(s AS BIGINT) AS start_tok,
           CAST(least(32, len(t) - s + 1) AS BIGINT) AS n_tokens,
           sha256(array_to_string(t[s:s+31], ' ')) AS chunk_sha
    FROM toks, UNNEST(range(1, len(t) + 1, 24)) AS u(s)
"""


@register("text_chunks", TEXT_CHUNKS_SQL)
def text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] RAG-style overlapping chunking
    (operators/text.py:chunk_documents)."""
    return text.chunk_documents(load_table(spark, sf_dir, "documents"))


# [EXT] Adaptive per-source quality gate: drop each source's worst 25%
# by distinct-token ratio; the Spark side computes the exact quantile
# via a bounded (source, rounded-score) histogram + map-literal
# cutoffs, the oracle states the same set with a cume_dist window.
CURATION_QUALITY_GATE_SQL = """
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                  FROM documents),
    q AS (SELECT doc_id, source,
                 ROUND(len(list_distinct(t)) * 1.0 / len(t), 4) AS q
          FROM toks)
    SELECT doc_id, source, q FROM (
        SELECT doc_id, source, q,
               cume_dist() OVER (PARTITION BY source ORDER BY q) AS cd
        FROM q)
    WHERE cd > 0.25
"""


@register("curation_quality_gate", CURATION_QUALITY_GATE_SQL)
def curation_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-source adaptive quality gate via bounded histogram
    (operators/curation.py:adaptive_quality_gate)."""
    return curation.adaptive_quality_gate(load_table(spark, sf_dir, "documents"))


# [EXT] Prefix-filter (All-Pairs/PPJoin) exact Jaccard: the oracle is
# the FULL self-join's answer at the same threshold, uncapped —
# asserting the prefix index is lossless, not merely similar.
@register(
    "dedup_prefix_jaccard",
    f"""
    WITH {_SHINGLE_CTES},
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM shingles x JOIN shingles y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
    {_JACCARD_TAIL}
    WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.8
    """,
)
def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Lossless prefix-filter near-dup join
    (operators/dedup.py:prefix_filter_jaccard_pairs)."""
    return dedup.prefix_filter_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 0.8
    )


# [EXT] First-order Markov transitions over per-user event timelines
# (lead() with event_id tie-break; probabilities normalized per
# from-state over the bounded |event_types|² domain).
EVENTS_TRANSITIONS_SQL = """
    WITH pairs AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events),
    trans AS (SELECT event_type, next_type, COUNT(*) AS n_trans
              FROM pairs WHERE next_type IS NOT NULL
              GROUP BY event_type, next_type)
    SELECT event_type, next_type, n_trans,
           ROUND(n_trans * 1.0 / SUM(n_trans) OVER (PARTITION BY event_type),
                 4) AS p_next
    FROM trans
"""


@register("events_transitions", EVENTS_TRANSITIONS_SQL)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Markov next-event transition matrix
    (operators/sessions.py:event_transitions)."""
    return sessions.event_transitions(load_table(spark, sf_dir, "events"))


# [EXT] Sparse TF-IDF cosine pairs: inverted-index self-join, df-capped
# vocabulary, zero-idf terms excluded by the cap; cosine rounds to 4
# digits before the threshold in BOTH engines.
TEXT_TFIDF_COS_SQL = """
    WITH tf AS (SELECT doc_id, term, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents)
                GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term
           HAVING COUNT(*) <= 1000),
    w AS (SELECT tf.doc_id, tf.term,
                 tf.tf * ln((SELECT COUNT(*) FROM documents) * 1.0 / df.df)
                     AS wgt
          FROM tf JOIN df USING (term)),
    nrm AS (SELECT doc_id, sqrt(SUM(wgt * wgt)) AS nrm FROM w GROUP BY doc_id),
    wn AS (SELECT w.doc_id, w.term, w.wgt / nrm.nrm AS wn
           FROM w JOIN nrm USING (doc_id) WHERE nrm.nrm > 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(SUM(a.wn * b.wn), 4) AS cos_tfidf
    FROM wn a JOIN wn b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING ROUND(SUM(a.wn * b.wn), 4) >= 0.9
"""


@register("text_tfidf_cosine_pairs", TEXT_TFIDF_COS_SQL)
def text_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Sparse TF-IDF cosine near-dup pairs
    (operators/text.py:tfidf_cosine_pairs)."""
    return text.tfidf_cosine_pairs(load_table(spark, sf_dir, "documents"))


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
from ..sources import bucketing  # noqa: E402

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


# [EXT] Triangles in the near-dup graph (canonical a<b<c rows); the
# oracle enumerates them directly from the exact-Jaccard edge set.
@register(
    "dedup_triangles",
    f"""
    WITH {_CAPPED_SHINGLE_CTES},
    inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              FROM shingles x JOIN shingles y
                ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
    edges AS (SELECT doc_a AS u, doc_b AS v
              FROM inter
              JOIN sizes za ON doc_a = za.doc_id
              JOIN sizes zb ON doc_b = zb.doc_id
              WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.8)
    SELECT e1.u AS doc_a, e1.v AS doc_b, e2.v AS doc_c
    FROM edges e1
    JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
    JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v
    """,
)
def dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Near-dup graph triangles, degree-oriented enumeration
    (operators/dedup.py:near_dup_triangles)."""
    return dedup.near_dup_triangles(load_table(spark, sf_dir, "documents"), 0.8)


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


# [EXT] Per-window heavy hitters (top-3 event types per hour; the
# rank runs on the bounded aggregate, never the fact table).
EVENTS_WINDOW_TOPK_SQL = """
    WITH counts AS (
        SELECT CAST(epoch(time_bucket(INTERVAL '60 minutes', ts)) AS BIGINT)
                   AS window_start,
               event_type,
               COUNT(*) AS n
        FROM events GROUP BY window_start, event_type)
    SELECT window_start, event_type, n, type_rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type ASC) AS INTEGER) AS type_rank
        FROM counts)
    WHERE type_rank <= 3
"""


@register("events_window_topk", EVENTS_WINDOW_TOPK_SQL)
def events_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Windowed heavy hitters
    (functions/scalars.py:windowed_top_event_types)."""
    return scalars.windowed_top_event_types(load_table(spark, sf_dir, "events"))


# [EXT] Exact per-type value deciles (single percentile-array agg).
EVENTS_DECILES_SQL = """
    SELECT event_type,
           CAST((i + 1) * 10 AS INTEGER) AS decile_pct,
           ROUND(dec[i + 1], 4) AS decile_value
    FROM (SELECT event_type,
                 quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                       0.6, 0.7, 0.8, 0.9]) AS dec
          FROM events GROUP BY event_type),
         UNNEST(range(0, 9)) AS u(i)
"""


@register("events_value_deciles", EVENTS_DECILES_SQL)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact equi-depth decile summary per event type
    (functions/scalars.py:event_value_deciles)."""
    return scalars.event_value_deciles(load_table(spark, sf_dir, "events"))


# [EXT] Shard integrity manifest: commutative md5-prefix checksums.
_DOC_DIGEST_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(text), {k + 1}, 1)) - 1)"
    f" * {16 ** (5 - k)}"
    for k in range(6)
)

CURATION_SHARDS_SQL = f"""
    SELECT CAST(({_DDB_BUCKET}) % 16 AS BIGINT) AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS total_tokens,
           CAST(SUM({_DOC_DIGEST_SQL}) AS BIGINT) AS content_checksum
    FROM documents
    GROUP BY shard_id
"""


@register("curation_shard_manifest", CURATION_SHARDS_SQL)
def curation_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Order-insensitive shard integrity manifest
    (operators/curation.py:shard_manifest)."""
    return curation.shard_manifest(load_table(spark, sf_dir, "documents"))


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


# [EXT] Daily bounce rate over sessionized events.
EVENTS_BOUNCE_SQL = f"""
    WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
    m AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                           OR us - lag(us) OVER w > {sessions.DEFAULT_GAP_MINUTES * 60 * 1_000_000}
                      THEN 1 ELSE 0 END AS new_session
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (SELECT user_id, us,
                 SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
                     ROWS UNBOUNDED PRECEDING) AS session_seq
          FROM m),
    sess AS (SELECT user_id, session_seq, MIN(us) AS start_us,
                    COUNT(*) AS n_events
             FROM s GROUP BY user_id, session_seq)
    SELECT strftime(CAST(make_timestamp(start_us) AS DATE),
                    '%Y-%m-%d') AS day,
           COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
           ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS bounce_rate
    FROM sess GROUP BY day
"""


@register("events_bounce_rate", EVENTS_BOUNCE_SQL)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Daily bounce rate (operators/sessions.py:bounce_rate_daily)."""
    return sessions.bounce_rate_daily(load_table(spark, sf_dir, "events"))


# [EXT] Per-type inter-arrival cadence (exact median / p95).
EVENTS_GAPS_SQL = """
    WITH g AS (SELECT event_type,
                      epoch_us(ts) - lag(epoch_us(ts)) OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY ts ASC, event_id ASC) AS gap_us
               FROM events WHERE user_id IS NOT NULL)
    SELECT event_type,
           COUNT(*) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / 1e6, 2) AS median_gap_sec,
           ROUND(quantile_cont(gap_us, 0.95) / 1e6, 2) AS p95_gap_sec
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
"""


@register("events_gap_stats", EVENTS_GAPS_SQL)
def events_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Inter-arrival gap stats
    (operators/sessions.py:inter_event_gap_stats)."""
    return sessions.inter_event_gap_stats(load_table(spark, sf_dir, "events"))


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


# [EXT] Exact binary-asset dedup off the checksum catalog.
MEDIA_DEDUP_SQL = """
    SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
               AS media_type,
           md5(text) AS checksum,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY media_type, checksum
"""


@register("media_payload_dedup", MEDIA_DEDUP_SQL)
def media_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Binary-asset exact dedup
    (operators/multimodal.py:payload_dedup)."""
    return multimodal.payload_dedup(load_table(spark, sf_dir, "documents"))


# [EXT] ANSI-safe dirty-JSON parsing (try_cast + validity guards) over
# deterministically dirtied props.
SCALAR_TRY_PARSE_SQL = """
    WITH d AS (SELECT event_type,
                      CASE WHEN event_id % 5 = 0 THEN 'oops not json'
                           WHEN event_id % 7 = 0 THEN '{"k": "abc"}'
                           ELSE props END AS p
               FROM events),
    parsed AS (SELECT event_type,
                      CASE WHEN json_valid(p)
                           THEN json_extract_string(p, '$.k') END AS ks
               FROM d)
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ks IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_invalid_json,
           CAST(SUM(CASE WHEN ks IS NOT NULL
                              AND TRY_CAST(ks AS BIGINT) IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nonnumeric,
           CAST(SUM(TRY_CAST(ks AS BIGINT)) AS BIGINT) AS sum_k
    FROM parsed GROUP BY event_type
"""


@register("scalar_try_parse", SCALAR_TRY_PARSE_SQL)
def scalar_try_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Safe parsing of dirty JSON
    (functions/scalars.py:safe_json_parse_stats)."""
    return scalars.safe_json_parse_stats(load_table(spark, sf_dir, "events"))


# [EXT] Trained IVF: Lloyd-fit codebook → corpus assignment → probe
# the 2 nearest trained cells per query → exact-L2² rerank.
_KM_D = _km_dist("q.v", "c.v")
_KM_RANKD = _km_dist("qe.v", "ne.v")

SIM_KMEANS_IVF_SQL = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < {similarity.KM_K}),
    {_km_assign_cte('e', 'c0', 'a1')},
    {_km_update_cte('a1', 'c1')},
    {_km_assign_cte('e', 'c1', 'a2')},
    {_km_update_cte('a2', 'c2')},
    {_km_assign_cte('e', 'c2', 'a3')},
    probes AS (SELECT query_id, cid FROM (
        SELECT q.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_KM_D} ASC, c.cid ASC) AS rn
        FROM (SELECT vec_id, v FROM e WHERE vec_id < 8) q, c2 c)
        WHERE rn <= 2),
    cand AS (SELECT p.query_id, a.vec_id
             FROM probes p JOIN a3 a ON a.cid = p.cid
             WHERE a.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, dist_sq, rank FROM (
        SELECT cand.query_id,
               cand.vec_id AS neighbor_id,
               {_KM_RANKD} AS dist_sq,
               CAST(ROW_NUMBER() OVER (PARTITION BY cand.query_id
                    ORDER BY {_KM_RANKD} ASC, cand.vec_id ASC) AS INTEGER)
                   AS rank
        FROM cand
        JOIN e qe ON qe.vec_id = cand.query_id
        JOIN e ne ON ne.vec_id = cand.vec_id)
    WHERE rank <= 5
"""


@register("sim_kmeans_ivf_topk", SIM_KMEANS_IVF_SQL)
def sim_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Trained-codebook IVF ANN
    (operators/similarity.py:kmeans_ivf_topk)."""
    return similarity.kmeans_ivf_topk(load_table(spark, sf_dir, "embeddings"))


# [EXT] MinHash estimator calibration: signature-agreement Jaccard
# estimate vs exact, per LSH candidate pair.
DEDUP_MINHASH_EST_SQL = f"""
    WITH {_SHINGLE_CTES},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shingles GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    est AS (SELECT cand.doc_a, cand.doc_b,
                   ROUND(((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END) + (CASE WHEN sa.h8 = sb.h8 THEN 1 ELSE 0 END) + (CASE WHEN sa.h9 = sb.h9 THEN 1 ELSE 0 END) + (CASE WHEN sa.h10 = sb.h10 THEN 1 ELSE 0 END) + (CASE WHEN sa.h11 = sb.h11 THEN 1 ELSE 0 END)) * 1.0 / 12, 4) AS est_jaccard
            FROM cand
            JOIN sig sa ON sa.doc_id = cand.doc_a
            JOIN sig sb ON sb.doc_id = cand.doc_b),
    inter AS (SELECT cand.doc_a, cand.doc_b, COUNT(*) AS i
              FROM cand
              JOIN shingles xa ON cand.doc_a = xa.doc_id
              JOIN shingles xb ON cand.doc_b = xb.doc_id
                 AND xa.shingle = xb.shingle
              GROUP BY cand.doc_a, cand.doc_b),
    exact AS (SELECT doc_a, doc_b,
                     ROUND(i * 1.0 / (za.n + zb.n - i), 4) AS jaccard
              FROM inter
              JOIN sizes za ON doc_a = za.doc_id
              JOIN sizes zb ON doc_b = zb.doc_id)
    SELECT est.doc_a, est.doc_b, est.est_jaccard, exact.jaccard,
           ROUND(abs(est.est_jaccard - exact.jaccard), 4) AS abs_err
    FROM est JOIN exact USING (doc_a, doc_b)
"""


@register("dedup_minhash_estimate", DEDUP_MINHASH_EST_SQL)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] MinHash estimator calibration report
    (operators/dedup.py:minhash_estimate_quality)."""
    return dedup.minhash_estimate_quality(load_table(spark, sf_dir, "documents"))


# [EXT] Radius (range) vector search: all neighbors with cos >= 0.3.
SIM_RANGE_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8)
    SELECT query_id, e.vec_id AS neighbor_id,
           ROUND({_ddb_cosine('q_emb', 'e.embedding')}, 6) AS cos_sim
    FROM embeddings e, q WHERE e.vec_id != query_id
      AND ROUND({_ddb_cosine('q_emb', 'e.embedding')}, 6) >= 0.3
"""


@register("sim_range_search", SIM_RANGE_SQL)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Fixed-threshold radius retrieval
    (operators/similarity.py:range_search)."""
    return similarity.range_search(load_table(spark, sf_dir, "embeddings"))


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


# [EXT] k-means cluster diagnostics (size / inertia / radius per cell).
SIM_KM_STATS_SQL = f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < {similarity.KM_K}),
    {_km_assign_cte('e', 'c0', 'a1')},
    {_km_update_cte('a1', 'c1')},
    {_km_assign_cte('e', 'c1', 'a2')},
    {_km_update_cte('a2', 'c2')},
    {_km_assign_cte('e', 'c2', 'a3')}
    SELECT CAST(cid AS BIGINT) AS cluster_id,
           COUNT(*) AS n_members,
           ROUND(AVG(d), 4) AS mean_dist_sq,
           ROUND(MAX(d), 4) AS max_dist_sq
    FROM a3 GROUP BY cid
"""


@register("sim_kmeans_stats", SIM_KM_STATS_SQL)
def sim_kmeans_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Trained-cluster diagnostics
    (operators/similarity.py:kmeans_cluster_stats)."""
    return similarity.kmeans_cluster_stats(load_table(spark, sf_dir, "embeddings"))


# [EXT] One-row corpus dedup health report.  COUNT(DISTINCT) drops NULL
# text, so the CASE term adds the NULL-text group back, as the engine's
# n_uniq does.
CURATION_REPORT_SQL = f"""
    WITH {_CAPPED_SHINGLE_CTES},
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM shingles x JOIN shingles y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
    inter AS (SELECT doc_a, doc_b, COUNT(*) AS i
              FROM cand
              JOIN shingles sa ON doc_a = sa.doc_id
              JOIN shingles sb ON doc_b = sb.doc_id
                 AND sa.shingle = sb.shingle
              GROUP BY doc_a, doc_b),
    near AS (SELECT doc_a, doc_b FROM inter
             JOIN sizes za ON doc_a = za.doc_id
             JOIN sizes zb ON doc_b = zb.doc_id
             WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.8),
    members AS (SELECT doc_a AS d FROM near
                UNION SELECT doc_b FROM near)
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM documents)
               - (SELECT COUNT(DISTINCT md5(text))
                         + CASE WHEN COUNT(*) > COUNT(text) THEN 1 ELSE 0 END
                  FROM documents)
               AS n_exact_dupes,
           (SELECT COUNT(*) FROM members) AS n_near_dup_members,
           ROUND(((SELECT COUNT(DISTINCT md5(text))
                          + CASE WHEN COUNT(*) > COUNT(text) THEN 1 ELSE 0 END
                   FROM documents) * 1.0)
                 / (SELECT COUNT(*) FROM documents), 4) AS unique_rate
"""


@register("curation_dedup_report", CURATION_REPORT_SQL)
def curation_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Corpus dedup health summary
    (operators/curation.py:corpus_dedup_report)."""
    return curation.corpus_dedup_report(load_table(spark, sf_dir, "documents"))


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

