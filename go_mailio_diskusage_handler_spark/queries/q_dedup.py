"""Near-duplicate family (``dedup_``): exact, MinHash LSH, SimHash
and n-gram Jaccard dedup, clustering, span coverage and trimming,
semantic dedup, and evaluation.  The oracles mirror the portable
md5-based hashing exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import dedup, similarity, text
from ..sources.tables import load_table
from ._base import register
from .q_similarity import (
    _ddb_bucket,
    _ddb_cosine,
    _km_assign_cte,
    _km_update_cte,
)
from .q_text import _CAPPED_SHINGLE_CTES, _SHINGLE_CTES


@register(
    "dedup_exact",
    """
    SELECT sha256(text) AS content_sha,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count
    FROM documents GROUP BY content_sha
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.exact_dedup(load_table(spark, sf_dir, "documents"))


_MINHASH_AGGS = ", ".join(
    f"min(md5('{j}:' || shingle)) AS h{j}" for j in range(dedup.N_HASHES)
)


_BAND_SELECTS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, md5({key}) AS band_key FROM sig".format(
        b=b,
        key=" || '|' || ".join(
            f"h{j}" for j in range(b * dedup.BAND_ROWS, (b + 1) * dedup.BAND_ROWS)
        ),
    )
    for b in range(dedup.N_BANDS)
)


_JACCARD_TAIL = """
    inter AS (SELECT doc_a, doc_b, COUNT(*) AS i
              FROM cand
              JOIN shingles sa ON doc_a = sa.doc_id
              JOIN shingles sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
              GROUP BY doc_a, doc_b)
    SELECT doc_a, doc_b,
           ROUND(i * 1.0 / (za.n + zb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes za ON doc_a = za.doc_id
    JOIN sizes zb ON doc_b = zb.doc_id
"""


@register(
    "dedup_minhash",
    f"""
    WITH {_SHINGLE_CTES},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shingles GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    {_JACCARD_TAIL}
    WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.8
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_pairs(load_table(spark, sf_dir, "documents"), 0.8)


#: Incremental-dedup batch boundary: docs with id ≥ this are "today's
#: ingest", probed against the stored band index of the full corpus.
_INCR_BATCH_MIN = 400


@register(
    "dedup_incremental_minhash",
    f"""
    WITH {_SHINGLE_CTES},
    sig AS (SELECT doc_id, {_MINHASH_AGGS} FROM shingles GROUP BY doc_id),
    bands AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id AND b.doc_id >= {_INCR_BATCH_MIN}),
    {_JACCARD_TAIL}
    WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.8
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day fuzzy dedup: only pairs involving a new-batch doc
    (dedup.incremental_minhash_pairs) — the band index of the existing
    corpus is probed, never re-self-joined."""
    return dedup.incremental_minhash_pairs(
        load_table(spark, sf_dir, "documents"), _INCR_BATCH_MIN
    )


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH {_CAPPED_SHINGLE_CTES},
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM shingles x JOIN shingles y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
    {_JACCARD_TAIL}
    WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.6)


#: Shared recursive-CTE chain ending in a ``clusters(doc_id,
#: cluster_id)`` CTE — used by dedup_clusters and the keep-best
#: composition.  ``edges AS MATERIALIZED``: DuckDB inlines CTEs
#: referenced from inside a WITH RECURSIVE scope, re-evaluating the
#: whole shingle->cand->inter->pairs chain EVERY iteration of the
#: transitive closure (measured 38.6 s at sf0.1; 13 s with the hint;
#: results A/B-identical — the hint is evaluation-only).
_CLUSTERS_CTES = f"""
    WITH RECURSIVE {_CAPPED_SHINGLE_CTES},
    cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
             FROM shingles x JOIN shingles y
               ON x.shingle = y.shingle AND x.doc_id < y.doc_id),
    inter AS (SELECT doc_a, doc_b, COUNT(*) AS i
              FROM cand
              JOIN shingles sa ON doc_a = sa.doc_id
              JOIN shingles sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
              GROUP BY doc_a, doc_b),
    pairs AS (SELECT doc_a, doc_b FROM inter
              JOIN sizes za ON doc_a = za.doc_id
              JOIN sizes zb ON doc_b = zb.doc_id
              WHERE ROUND(i * 1.0 / (za.n + zb.n - i), 4) >= 0.6),
    edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT a AS src, a AS dst FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
    clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
                 FROM reach GROUP BY src)
"""


@register(
    "dedup_clusters",
    f"{_CLUSTERS_CTES} SELECT doc_id, cluster_id FROM clusters",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component duplicate clusters (iterative label
    propagation vs the oracle's recursive-CTE transitive closure)."""
    return dedup.duplicate_clusters(load_table(spark, sf_dir, "documents"))


_NIBBLES = ", ".join(
    f"strpos('0123456789abcdef', substr(md5(token), {k + 1}, 1)) - 1 AS v{k}"
    for k in range(dedup.SIMHASH_BITS // 4)
)


_BIT_SUMS = ", ".join(
    f"SUM(((v{i // 4} >> {3 - i % 4}) & 1) * 2 - 1) AS s{i}"
    for i in range(dedup.SIMHASH_BITS)
)


_PACK = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {2**i} ELSE 0 END)" for i in range(dedup.SIMHASH_BITS)
)


_SIMHASH_CTES = f"""
    tok AS (SELECT doc_id, u.token
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 UNNEST(t) AS u(token)),
    nib AS (SELECT doc_id, {_NIBBLES} FROM tok),
    sums AS (SELECT doc_id, {_BIT_SUMS} FROM nib GROUP BY doc_id),
    sim AS (SELECT doc_id, CAST({_PACK} AS BIGINT) AS simhash FROM sums)
"""


@register(
    "dedup_simhash_values",
    f"WITH {_SIMHASH_CTES} SELECT doc_id, simhash FROM sim",
)
def dedup_simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_values(load_table(spark, sf_dir, "documents"))


_SIM_BLOCKS = " UNION ALL ".join(
    f"SELECT doc_id, simhash, {m} AS block_idx,"
    f" (simhash >> {dedup.SIMHASH_BLOCK_BITS * m}) & {(1 << dedup.SIMHASH_BLOCK_BITS) - 1}"
    f" AS block_val FROM sim"
    for m in range(dedup.SIMHASH_BLOCKS)
)


@register(
    "dedup_simhash_pairs",
    f"""
    WITH {_SIMHASH_CTES},
    blocks AS ({_SIM_BLOCKS}),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
              FROM blocks a JOIN blocks b
                ON a.block_idx = b.block_idx AND a.block_val = b.block_val
               AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_dedup_pairs(load_table(spark, sf_dir, "documents"))


_DDB_TBUCKET = "CASE " + " ".join(
    f"WHEN t = {t} THEN b{t}" for t in range(similarity.N_TABLES)
) + " END"


@register(
    "dedup_embedding_cosine",
    # Candidate pairs are DISTINCT-ed BEFORE any cosine math (round-9
    # verdict: the old form evaluated the O(dim) cosine expression
    # twice per (table, mask)-duplicated joined row, making this the
    # slowest oracle in the registry — 48 s at sf0.1).  Same bucket
    # recipe, same pairs, same threshold, same output contract; the
    # cosine now runs exactly once per distinct candidate pair.
    f"""
    WITH withb AS (SELECT vec_id,
                          {", ".join(f"{_ddb_bucket('embedding', t)} AS b{t}"
                                     for t in range(similarity.N_TABLES))}
                   FROM embeddings),
    ms AS (SELECT unnest([{", ".join(str(m) for m in similarity.PROBE_MASKS_H1)}])
               AS mask),
    ts AS (SELECT unnest(range({similarity.N_TABLES})) AS t),
    probed AS (SELECT vec_id, t,
                      xor({_DDB_TBUCKET}, CAST(mask AS INTEGER)) AS probe_bucket
               FROM withb CROSS JOIN ts CROSS JOIN ms),
    cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             FROM probed a JOIN withb b
               ON (CASE {" ".join(f"WHEN a.t = {t} THEN b.b{t}"
                                  for t in range(similarity.N_TABLES))} END)
                  = a.probe_bucket
              AND a.vec_id < b.vec_id),
    scored AS (SELECT c.vec_a, c.vec_b,
                      ROUND({_ddb_cosine('ea.embedding', 'eb.embedding')}, 6)
                          AS cos_sim
               FROM cand c
               JOIN embeddings ea ON ea.vec_id = c.vec_a
               JOIN embeddings eb ON eb.vec_id = c.vec_b)
    SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_normalized",
    """
    SELECT sha256(norm) AS norm_sha,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count
    FROM (SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
          FROM documents)
    GROUP BY norm_sha
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonical normalization (case/punctuation/
    whitespace) — text.normalized_exact_dedup.  NOTE the oracle's 'g'
    flags: DuckDB regexp_replace is first-match by default while
    Spark's is global."""
    return text.normalized_exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_pair_editdist",
    f"""
    WITH {_SIMHASH_CTES},
    blocks AS ({_SIM_BLOCKS}),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
              FROM blocks a JOIN blocks b
                ON a.block_idx = b.block_idx AND a.block_val = b.block_val
               AND a.doc_id < b.doc_id)
    SELECT p.doc_a, p.doc_b,
           CAST(levenshtein(substr(da.text, 1, 64), substr(db.text, 1, 64))
                AS INTEGER) AS head_edit_dist
    FROM (SELECT doc_a, doc_b FROM pairs WHERE hamming <= 3) p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    """,
)
def dedup_pair_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein verification tier over SimHash candidate pairs —
    cheap-filter → expensive-verify composition with a string metric
    (dedup.simhash_pairs_editdist; per-pair cost capped at O(head²))."""
    return dedup.simhash_pairs_editdist(load_table(spark, sf_dir, "documents"))


NGRAM_CONTAINMENT_SQL = f"""
    WITH {_CAPPED_SHINGLE_CTES},
    inter AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
              FROM shingles x JOIN shingles y
                ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY doc_a, doc_b),
    j AS (SELECT doc_a, doc_b, i, za.n AS na, zb.n AS nb
          FROM inter
          JOIN sizes za ON doc_a = za.doc_id
          JOIN sizes zb ON doc_b = zb.doc_id)
    SELECT doc_src, doc_dst, ROUND(c, 4) AS containment FROM (
        SELECT doc_a AS doc_src, doc_b AS doc_dst, i * 1.0 / na AS c FROM j
        UNION ALL
        SELECT doc_b AS doc_src, doc_a AS doc_dst, i * 1.0 / nb AS c FROM j
    ) WHERE c >= 0.8
"""


@register("dedup_ngram_containment", NGRAM_CONTAINMENT_SQL)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment ≥ 0.8 over the df-capped shingle
    join — dedup.ngram_containment_pairs (asymmetric near-dup:
    fragment-inside-document)."""
    return dedup.ngram_containment_pairs(load_table(spark, sf_dir, "documents"))


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
    return dedup.near_dup_triangles(load_table(spark, sf_dir, "documents"))


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


# DuckDB mirror of dedup.novelty_fraction (n=8): distinct grams per
# doc, first owner = MIN(doc_id) per gram, novelty = owned fraction.
# The division is exact-int-valued doubles — bit-identical across
# engines, no ROUND needed.  Same slice/COALESCE conventions as
# SPAN_TRIM_SQL above.
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
