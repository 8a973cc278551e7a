"""Similarity-search family (``sim_``): brute-force, LSH, IVF, PQ
and k-means search over embeddings, hybrid and diversified ranking,
and recall harnesses, plus the DuckDB vector fragments
(``_ddb_cosine``, ``_km_*_cte``, ...) other families build on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import similarity
from ..sources.tables import load_table
from ._base import ORACLE_SQL, register
from .q_text import _CAPPED_SHINGLE_CTES


def _ddb_dot(a: str, b: str) -> str:
    # Native list_dot_product on DOUBLE[] — bit-identical to the former
    # list_sum(list_transform(range, i -> a[i]*b[i])) form (A/B-checked
    # at max-abs-diff 0.0 over all sf0.1 self/cross/plane dots, round
    # 10) but ~100x faster: the interpreted per-element lambda made the
    # similarity oracles the slowest in the registry (the
    # dedup_embedding_cosine DuckDB twin alone was 48 s at sf0.1).
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def _ddb_cosine(a: str, b: str) -> str:
    return (
        f"({_ddb_dot(a, b)} / (sqrt({_ddb_dot(a, a)}) * sqrt({_ddb_dot(b, b)})))"
    )


def _ddb_bucket(col: str, table: int = 0) -> str:
    terms = []
    for p in range(similarity.N_PLANES):
        plane = "[" + ", ".join(
            str(int(w))
            for w in similarity.hyperplane(table * similarity.N_PLANES + p)
        ) + "]"
        d = _ddb_dot(col, plane)
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


@register(
    "sim_brute_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               ROUND({_ddb_cosine('q_emb', 'e.embedding')}, 6) AS cos_sim
        FROM embeddings e, q WHERE e.vec_id != query_id
    ),
    ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 10
    """,
)
def sim_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(load_table(spark, sf_dir, "embeddings"), 8, 10)


@register(
    "sim_filtered_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT query_id, e.vec_id AS neighbor_id, e.label AS label,
               ROUND({_ddb_cosine('q_emb', 'e.embedding')}, 6) AS cos_sim
        FROM embeddings e JOIN q
          ON e.label = q_label AND e.vec_id != query_id
    ),
    ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, label, cos_sim, rank
    FROM ranked WHERE rank <= 5
    """,
)
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: exact top-k within the query's
    label class (similarity.filtered_topk) — the filter is a join key,
    not a post-filter, so off-class vectors are never scored."""
    return similarity.filtered_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_lsh_buckets",
    f"""
    SELECT vec_id, {_ddb_bucket('embedding')} AS bucket FROM embeddings
    """,
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_buckets(load_table(spark, sf_dir, "embeddings"))


_ANN_TABLES = len(similarity.PROBE_MASKS_BY_TABLE)


_DDB_ANN_TBUCKET = "CASE " + " ".join(
    f"WHEN t = {t} THEN b{t}" for t in range(_ANN_TABLES)
) + " END"


@register(
    "sim_lsh_ann_topk",
    f"""
    WITH withb AS (SELECT vec_id, embedding,
                          {", ".join(f"{_ddb_bucket('embedding', t)} AS b{t}"
                                     for t in range(_ANN_TABLES))}
                   FROM embeddings),
    tm AS (SELECT * FROM (VALUES {", ".join(
        f"({t}, {m})"
        for t in range(_ANN_TABLES)
        for m in similarity.PROBE_MASKS_BY_TABLE[t]
    )}) AS tm(t, mask)),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, t,
                 xor({_DDB_ANN_TBUCKET}, CAST(mask AS INTEGER)) AS q_bucket
          FROM withb CROSS JOIN tm WHERE vec_id < 8),
    scored AS (
        SELECT DISTINCT query_id, e.vec_id AS neighbor_id,
               ROUND({_ddb_cosine('q_emb', 'e.embedding')}, 6) AS cos_sim
        FROM withb e JOIN q
          ON (CASE {" ".join(f"WHEN q.t = {t} THEN e.b{t}"
                             for t in range(_ANN_TABLES))} END) = q_bucket
         AND e.vec_id != query_id
    ),
    ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_ann_topk(load_table(spark, sf_dir, "embeddings"))


_IVF_ASSIGN_CTES = f"""
    c AS (SELECT vec_id AS cid, embedding AS cemb
          FROM embeddings WHERE vec_id < {similarity.N_CENTROIDS}),
    cscored AS (SELECT e.vec_id, c.cid,
                       ROUND({_ddb_cosine('e.embedding', 'c.cemb')}, 6) AS cs
                FROM embeddings e CROSS JOIN c),
    cranked AS (SELECT vec_id, cid, ROW_NUMBER() OVER (
                    PARTITION BY vec_id ORDER BY cs DESC, cid ASC) AS rn
                FROM cscored),
    assign AS (SELECT vec_id, CAST(cid AS INTEGER) AS list_id
               FROM cranked WHERE rn = 1)
"""


@register(
    "sim_ivf_assignments",
    f"WITH {_IVF_ASSIGN_CTES} SELECT vec_id, list_id FROM assign",
)
def sim_ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization with a deterministic codebook (first
    N_CENTROIDS vectors) — the data-distribution-following counterpart
    to the hyperplane LSH buckets."""
    return similarity.ivf_assignments(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivf_ann_topk",
    f"""
    WITH {_IVF_ASSIGN_CTES},
    probes AS (SELECT vec_id AS query_id, CAST(cid AS INTEGER) AS list_id
               FROM cranked
               WHERE vec_id < 8 AND rn <= {similarity.N_PROBE}),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
             FROM probes p JOIN assign a
               ON a.list_id = p.list_id AND a.vec_id != p.query_id),
    scored AS (SELECT query_id, neighbor_id,
                      ROUND({_ddb_cosine('q.embedding', 'n.embedding')}, 6) AS cos_sim
               FROM cand
               JOIN embeddings q ON q.vec_id = query_id
               JOIN embeddings n ON n.vec_id = neighbor_id),
    ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
)
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: probe the 2 nearest inverted lists per query,
    exact cosine rerank within candidates."""
    return similarity.ivf_ann_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_quantize_int8",
    """
    SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec_csv
    FROM (
        SELECT vec_id,
               ROUND(CASE WHEN am = 0 THEN 0.0 ELSE am / 127.0 END, 6) AS scale,
               CASE WHEN am = 0
                    THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding,
                        x -> CAST(floor(x / (am / 127.0) + 0.5) AS INTEGER))
               END AS qvec
        FROM (SELECT vec_id, embedding,
                     list_max(list_transform(embedding, y -> abs(y))) AS am
              FROM embeddings) b) q
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4× storage shrink;
    portable floor(x/scale + 0.5) rounding).  The driver-facing
    projection serializes the int vector to CSV — every element is
    value-checked while the result schema stays scalar-typed."""
    from pyspark.sql import functions as F

    q = similarity.quantize_embeddings_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(F.col("qvec"), lambda x: x.cast("string")), ","
        ).alias("qvec_csv"),
    )


@register(
    "sim_pq_codes",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cemb
               FROM embeddings WHERE vec_id < {similarity.PQ_K}),
    ms AS (SELECT unnest(range({similarity.PQ_M})) AS m),
    sub AS (SELECT e.vec_id, ms.m, c.cid,
                   ROUND(list_sum(list_transform(range(1, {similarity.PQ_SUB + 1}),
                       i -> (CAST(e.embedding[ms.m * {similarity.PQ_SUB} + i] AS DOUBLE)
                             - CAST(c.cemb[ms.m * {similarity.PQ_SUB} + i] AS DOUBLE)) ^ 2)),
                         6) AS d2
            FROM embeddings e CROSS JOIN c CROSS JOIN ms),
    ranked AS (SELECT vec_id, m, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2 ASC, cid ASC) AS rn
               FROM sub)
    SELECT vec_id, CAST(m AS INTEGER) AS subspace, CAST(cid AS INTEGER) AS code
    FROM ranked WHERE rn = 1
    """,
)
def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (8 subspaces × 16 centroids —
    similarity.pq_codes): the 64× vector-compression leg of the
    storage tier."""
    return similarity.pq_codes(load_table(spark, sf_dir, "embeddings"))


_PQ_SUBDIST = (
    f"ROUND(list_sum(list_transform(range(1, {similarity.PQ_SUB + 1}), "
    f"i -> (CAST({{a}}[{{m}} * {similarity.PQ_SUB} + i] AS DOUBLE) "
    f"- CAST({{b}}[{{m}} * {similarity.PQ_SUB} + i] AS DOUBLE)) ^ 2)), 6)"
)


@register(
    "sim_pq_ann_topk",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cemb
               FROM embeddings WHERE vec_id < {similarity.PQ_K}),
    ms AS (SELECT unnest(range({similarity.PQ_M})) AS m),
    sub AS (SELECT e.vec_id, ms.m, c.cid,
                   {_PQ_SUBDIST.format(a='e.embedding', b='c.cemb', m='ms.m')} AS d2
            FROM embeddings e CROSS JOIN c CROSS JOIN ms),
    codes AS (SELECT vec_id, m, cid AS code FROM (
                  SELECT vec_id, m, cid, ROW_NUMBER() OVER (
                      PARTITION BY vec_id, m ORDER BY d2 ASC, cid ASC) AS rn
                  FROM sub) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qemb
          FROM embeddings WHERE vec_id < 8),
    dt AS (SELECT q.query_id, ms.m, c.cid,
                  {_PQ_SUBDIST.format(a='q.qemb', b='c.cemb', m='ms.m')} AS d
           FROM q CROSS JOIN c CROSS JOIN ms),
    approx AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
                      ROUND(SUM(dt.d), 4) AS approx_dist
               FROM codes JOIN dt ON dt.m = codes.m AND dt.cid = codes.code
               WHERE codes.vec_id != dt.query_id
               GROUP BY dt.query_id, codes.vec_id),
    ranked AS (SELECT query_id, neighbor_id, approx_dist, ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
               FROM approx)
    SELECT query_id, neighbor_id, approx_dist, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def sim_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN by asymmetric distance: per-query distance tables over
    the codebook, lookups against 4-byte codes
    (similarity.pq_ann_topk)."""
    return similarity.pq_ann_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivfpq_ann_topk",
    f"""
    WITH {_IVF_ASSIGN_CTES},
    probes AS (SELECT vec_id AS query_id, CAST(cid AS INTEGER) AS list_id
               FROM cranked
               WHERE vec_id < 8 AND rn <= {similarity.N_PROBE}),
    pc AS (SELECT vec_id AS cid, embedding AS cemb
           FROM embeddings WHERE vec_id < {similarity.PQ_K}),
    ms AS (SELECT unnest(range({similarity.PQ_M})) AS m),
    psub AS (SELECT e.vec_id, ms.m, pc.cid,
                    {_PQ_SUBDIST.format(a='e.embedding', b='pc.cemb', m='ms.m')} AS d2
             FROM embeddings e CROSS JOIN pc CROSS JOIN ms),
    codes AS (SELECT vec_id, m, cid AS code FROM (
                  SELECT vec_id, m, cid, ROW_NUMBER() OVER (
                      PARTITION BY vec_id, m ORDER BY d2 ASC, cid ASC) AS rn
                  FROM psub) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qemb
          FROM embeddings WHERE vec_id < 8),
    dt AS (SELECT q.query_id, ms.m, pc.cid,
                  {_PQ_SUBDIST.format(a='q.qemb', b='pc.cemb', m='ms.m')} AS d
           FROM q CROSS JOIN pc CROSS JOIN ms),
    cand AS (SELECT p.query_id, a.vec_id
             FROM probes p JOIN assign a
               ON a.list_id = p.list_id AND a.vec_id != p.query_id),
    approx AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
                      ROUND(SUM(dt.d), 4) AS approx_dist
               FROM cand
               JOIN codes ON codes.vec_id = cand.vec_id
               JOIN dt ON dt.query_id = cand.query_id
                      AND dt.m = codes.m AND dt.cid = codes.code
               GROUP BY dt.query_id, codes.vec_id),
    ranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY approx_dist ASC, neighbor_id ASC) AS INTEGER) AS rank
               FROM approx)
    SELECT query_id, neighbor_id, approx_dist, rank FROM ranked WHERE rank <= 5
    """,
)
def sim_ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe pruning × PQ ADC scoring — the production ANN stack
    (similarity.ivfpq_ann_topk)."""
    return similarity.ivfpq_ann_topk(load_table(spark, sf_dir, "embeddings"))


@register(
    "sim_ivfpq_rerank_topk",
    f"""
    WITH {_IVF_ASSIGN_CTES},
    probes AS (SELECT vec_id AS query_id, CAST(cid AS INTEGER) AS list_id
               FROM cranked
               WHERE vec_id < 8 AND rn <= {similarity.N_PROBE}),
    pc AS (SELECT vec_id AS cid, embedding AS cemb
           FROM embeddings WHERE vec_id < {similarity.PQ_K}),
    ms AS (SELECT unnest(range({similarity.PQ_M})) AS m),
    psub AS (SELECT e.vec_id, ms.m, pc.cid,
                    {_PQ_SUBDIST.format(a='e.embedding', b='pc.cemb', m='ms.m')} AS d2
             FROM embeddings e CROSS JOIN pc CROSS JOIN ms),
    codes AS (SELECT vec_id, m, cid AS code FROM (
                  SELECT vec_id, m, cid, ROW_NUMBER() OVER (
                      PARTITION BY vec_id, m ORDER BY d2 ASC, cid ASC) AS rn
                  FROM psub) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qemb
          FROM embeddings WHERE vec_id < 8),
    dt AS (SELECT q.query_id, ms.m, pc.cid,
                  {_PQ_SUBDIST.format(a='q.qemb', b='pc.cemb', m='ms.m')} AS d
           FROM q CROSS JOIN pc CROSS JOIN ms),
    cand AS (SELECT p.query_id, a.vec_id
             FROM probes p JOIN assign a
               ON a.list_id = p.list_id AND a.vec_id != p.query_id),
    approx AS (SELECT dt.query_id, codes.vec_id AS neighbor_id,
                      ROUND(SUM(dt.d), 4) AS approx_dist
               FROM cand
               JOIN codes ON codes.vec_id = cand.vec_id
               JOIN dt ON dt.query_id = cand.query_id
                      AND dt.m = codes.m AND dt.cid = codes.code
               GROUP BY dt.query_id, codes.vec_id),
    short AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY approx_dist ASC, neighbor_id ASC) AS srank
                  FROM approx) WHERE srank <= {similarity.RERANK_SHORTLIST}),
    exact AS (SELECT s.query_id, s.neighbor_id,
                     ROUND({_ddb_cosine('qe.embedding', 'ne.embedding')}, 6)
                         AS cos_sim
              FROM short s
              JOIN embeddings qe ON qe.vec_id = s.query_id
              JOIN embeddings ne ON ne.vec_id = s.neighbor_id),
    reranked AS (SELECT *, CAST(ROW_NUMBER() OVER (
                     PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
                 FROM exact)
    SELECT query_id, neighbor_id, cos_sim, rank FROM reranked WHERE rank <= 5
    """,
)
def sim_ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ ADC shortlist → exact cosine re-rank: the full
    production ANN output stage (similarity.ivfpq_rerank_topk)."""
    return similarity.ivfpq_rerank_topk(load_table(spark, sf_dir, "embeddings"))


RRF_HYBRID_SQL = f"""
    WITH {_CAPPED_SHINGLE_CTES},
    inter AS (SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
                     COUNT(*) AS i
              FROM shingles c
              JOIN shingles q ON c.shingle = q.shingle
                             AND c.doc_id != q.doc_id
              WHERE q.doc_id < 4
              GROUP BY query_id, cand_id),
    jac AS (SELECT query_id, cand_id,
                   i * 1.0 / (zq.n + zc.n - i) AS jaccard
            FROM inter
            JOIN sizes zq ON query_id = zq.doc_id
            JOIN sizes zc ON cand_id = zc.doc_id),
    t AS (SELECT query_id, cand_id, rank_t FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY jaccard DESC, cand_id ASC) AS rank_t
              FROM jac) WHERE rank_t <= {similarity.RRF_POOL}),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < 4),
    vscored AS (SELECT query_id, e.vec_id AS cand_id,
                       ROUND({_ddb_cosine('q_emb', 'e.embedding')}, 6)
                           AS cos_sim
                FROM embeddings e, q WHERE e.vec_id != query_id),
    v AS (SELECT query_id, cand_id, rank_v FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, cand_id ASC) AS rank_v
              FROM vscored) WHERE rank_v <= {similarity.RRF_POOL}),
    fused AS (SELECT COALESCE(t.query_id, v.query_id) AS query_id,
                     COALESCE(t.cand_id, v.cand_id) AS cand_id,
                     COALESCE(1.0 / ({similarity.RRF_K} + rank_t), 0)
                     + COALESCE(1.0 / ({similarity.RRF_K} + rank_v), 0)
                         AS rrf_score
              FROM t FULL OUTER JOIN v
                ON t.query_id = v.query_id AND t.cand_id = v.cand_id)
    SELECT query_id, cand_id, rrf_score,
           CAST(fr AS INTEGER) AS fused_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY rrf_score DESC, cand_id ASC) AS fr
          FROM fused) WHERE fr <= {similarity.RRF_TOPK}
"""


@register("sim_rrf_hybrid_topk", RRF_HYBRID_SQL)
def sim_rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval fused by reciprocal rank —
    similarity.rrf_hybrid_topk (query-bounded probe sides, FULL OUTER
    fusion of two pool-sized rank lists)."""
    return similarity.rrf_hybrid_topk(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def _mmr_oracle_sql(k: int, shortlist: int) -> str:
    """Generate the MMR greedy as chained CTEs: step s scores every
    unselected candidate as 0.7*rel - (1 - 0.7)*MAX(sim to selected)
    and picks the arg-max.  (1 - CAST(0.7 AS DOUBLE)), not 0.3: DuckDB
    parses bare decimal literals as DECIMAL (exact 0.3) and the engine computes
    ``1.0 - lam`` in IEEE doubles and 0.3 is a DIFFERENT double —
    writing the same expression keeps scores bit-identical, so the
    arg-max can never diverge on a near-tie."""
    steps = []
    for s in range(2, k + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, s))
        steps.append(f"""
    sc{s} AS (
        SELECT c.query_id, c.neighbor_id,
               CAST(0.7 AS DOUBLE) * c.rel - (1 - CAST(0.7 AS DOUBLE)) * MAX(p.sim) AS mmr_score
        FROM cand c
        JOIN ({prev}) sel ON sel.query_id = c.query_id
        JOIN psim p ON p.query_id = c.query_id
             AND p.i = c.neighbor_id AND p.j = sel.neighbor_id
        WHERE c.neighbor_id NOT IN
              (SELECT neighbor_id FROM ({prev}) x
               WHERE x.query_id = c.query_id)
        GROUP BY c.query_id, c.neighbor_id, c.rel
    ),
    sel{s} AS (
        SELECT query_id, neighbor_id, mmr_score, {s} AS mmr_rank FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY mmr_score DESC, neighbor_id ASC) AS rn
            FROM sc{s}) WHERE rn = 1
    )""")
    union = " UNION ALL ".join(f"SELECT * FROM sel{i}" for i in range(1, k + 1))
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 8),
    scored AS (
        SELECT query_id, e.vec_id AS neighbor_id,
               ROUND({_ddb_cosine('q_emb', 'e.embedding')}, 6) AS rel
        FROM embeddings e, q WHERE e.vec_id != query_id
    ),
    cand AS (SELECT query_id, neighbor_id, rel FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rel DESC, neighbor_id ASC) AS rn
                 FROM scored) WHERE rn <= {shortlist}),
    psim AS (
        SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
               ROUND({_ddb_cosine('ea.embedding', 'eb.embedding')}, 6) AS sim
        FROM cand a
        JOIN cand b ON a.query_id = b.query_id
             AND a.neighbor_id != b.neighbor_id
        JOIN embeddings ea ON ea.vec_id = a.neighbor_id
        JOIN embeddings eb ON eb.vec_id = b.neighbor_id
    ),
    sel1 AS (
        SELECT query_id, neighbor_id, CAST(0.7 AS DOUBLE) * rel AS mmr_score, 1 AS mmr_rank
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY CAST(0.7 AS DOUBLE) * rel DESC, neighbor_id ASC) AS rn
              FROM cand) WHERE rn = 1
    ),{','.join(steps)}
    SELECT query_id, neighbor_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
           mmr_score
    FROM ({union})
"""


@register(
    "sim_mmr_topk",
    _mmr_oracle_sql(similarity.MMR_K, similarity.MMR_SHORTLIST),
)
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k over the exact
    shortlist tier — similarity.mmr_rerank_topk (greedy runs per query
    over a bounded shortlist; all vector math stays JVM-side)."""
    return similarity.mmr_rerank_topk(load_table(spark, sf_dir, "embeddings"))


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


# [EXT] ANN recall harness: compose the registered brute-force truth
# and LSH-ANN oracles (both registered earlier in this module).
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
