"""Training-data curation family (``curation_``): splits,
weighted sampling, mixtures, packing, decontamination, quality
gates, and the corpus reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import curation, similarity
from ..operators.curation import DSIR_BUCKETS
from ..sources.tables import load_table
from ._base import register
from .q_dedup import _CLUSTERS_CTES
from .q_similarity import _ddb_cosine
from .q_text import _CAPPED_SHINGLE_CTES, _SHINGLE_CTES


#: md5(doc_id)'s first four hex digits as an integer in [0, 65536):
#: the doc-hash bucket behind the splits and samples.
_DDB_BUCKET = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(cast(doc_id as varchar)), {k + 1}, 1)) - 1)"
    f" * {16 ** (3 - k)}"
    for k in range(4)
)


@register(
    "curation_split_assign",
    f"""
    SELECT doc_id,
           CAST({_DDB_BUCKET} AS BIGINT) AS bucket,
           CASE WHEN ({_DDB_BUCKET}) % 100 < {curation.TRAIN_PCT} THEN 'train'
                WHEN ({_DDB_BUCKET}) % 100 < {curation.TRAIN_PCT + curation.VAL_PCT}
                     THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def curation_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.split_assignments(load_table(spark, sf_dir, "documents"))


#: Mixture weights exercised by the sample_weighted query/oracle pair.
_SAMPLE_RATES = {"src0": 0.5, "src1": 0.25, "src2": 0.0}


@register(
    "curation_sample_weighted",
    f"""
    SELECT doc_id, source FROM documents
    WHERE ({_DDB_BUCKET}) / 65536.0 <
          CASE source WHEN 'src0' THEN 0.5
                      WHEN 'src1' THEN 0.25
                      WHEN 'src2' THEN 0.0
                      ELSE 0.9 END
    """,
)
def curation_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source Bernoulli sampling (mixture weights as
    probabilities; curation.sample_weighted)."""
    return curation.sample_weighted(
        load_table(spark, sf_dir, "documents"), _SAMPLE_RATES
    )


@register(
    "curation_mixture",
    f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY ({_DDB_BUCKET}) ASC, doc_id ASC) AS rk
        FROM documents) q
    WHERE rk <= 10
    """,
)
def curation_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-ranked per-source caps WITH the round-5 skew guard on its
    default: the guard's bounded-histogram pre-filter adds ~0.5 s of
    fixed local overhead vs the bare window (the price that fences a
    10⁹-doc source at 100 TB — same accepted trade as the round-4
    shingle DF cap on curation_contaminated); output is provably
    identical, so the oracle is unchanged."""
    return curation.mixture_rebalance(load_table(spark, sf_dir, "documents"), 10)


@register(
    "curation_pack_sequences",
    """
    SELECT doc_id,
           source,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(floor(COALESCE(SUM(len(string_split(text, ' '))) OVER (
                          PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      / 512.0)
                AS BIGINT) AS bin_id
    FROM documents
    """,
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing into 512-token bins
    (curation.pack_sequences)."""
    return curation.pack_sequences(load_table(spark, sf_dir, "documents"), 512)


@register(
    "curation_contaminated",
    f"""
    WITH {_CAPPED_SHINGLE_CTES},
    train AS (SELECT doc_id, shingle FROM shingles WHERE doc_id >= 200),
    ev AS (SELECT doc_id AS eval_doc_id, shingle FROM shingles WHERE doc_id < 200),
    overlap AS (SELECT t.doc_id, e.eval_doc_id, COUNT(*) AS n_overlap
                FROM train t JOIN ev e ON t.shingle = e.shingle
                GROUP BY 1, 2
                HAVING COUNT(*) >= 3)
    SELECT doc_id, MAX(n_overlap) AS max_overlap, COUNT(*) AS n_eval_docs
    FROM overlap GROUP BY doc_id
    """,
)
def curation_contaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.contaminated_docs(load_table(spark, sf_dir, "documents"))


@register(
    "curation_corpus",
    f"""
    WITH RECURSIVE {_CAPPED_SHINGLE_CTES},
    qtoks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
    quality_ok AS (SELECT doc_id FROM qtoks
                   WHERE ROUND(len(list_distinct(t)) * 1.0 / len(t), 4) >= 0.4
                     AND len(t) >= 20),
    train AS (SELECT doc_id, shingle FROM shingles WHERE doc_id >= 200),
    ev AS (SELECT doc_id AS eval_doc_id, shingle FROM shingles WHERE doc_id < 200),
    contaminated AS (SELECT DISTINCT doc_id FROM (
        SELECT t.doc_id, e.eval_doc_id FROM train t JOIN ev e ON t.shingle = e.shingle
        GROUP BY 1, 2 HAVING COUNT(*) >= 3) c),
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
    losers AS (SELECT src AS doc_id FROM reach GROUP BY src
               HAVING src != MIN(dst))
    SELECT d.doc_id, d.source,
           CASE WHEN ({_DDB_BUCKET.replace("cast(doc_id", "cast(d.doc_id")}) % 100
                     < {curation.TRAIN_PCT} THEN 'train'
                WHEN ({_DDB_BUCKET.replace("cast(doc_id", "cast(d.doc_id")}) % 100
                     < {curation.TRAIN_PCT + curation.VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents d
    JOIN quality_ok q ON d.doc_id = q.doc_id
    WHERE d.doc_id >= 200
      AND d.doc_id NOT IN (SELECT c.doc_id FROM contaminated c)
      AND d.doc_id NOT IN (SELECT l.doc_id FROM losers l)
    """,
)
def curation_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composite: quality gate → decontaminate → dedup-keep-one
    → split assignment, one declarative plan end-to-end."""
    return curation.curated_corpus(load_table(spark, sf_dir, "documents"))


@register(
    "curation_keep_best",
    f"""
    {_CLUSTERS_CTES},
    m AS (SELECT c.cluster_id, c.doc_id, d.n_chars
          FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
    SELECT cluster_id, doc_id AS keep_doc_id, n_chars AS keep_n_chars,
           n_members
    FROM (SELECT *, COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY n_chars DESC, doc_id ASC) AS rn
          FROM m) WHERE rn = 1
    """,
)
def curation_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-document representative per duplicate cluster — one
    argmax aggregation, no per-cluster sort
    (curation.keep_best_per_cluster)."""
    return curation.keep_best_per_cluster(load_table(spark, sf_dir, "documents"))


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
    return curation.bloom_prefiltered_contamination(load_table(spark, sf_dir, "documents"))


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


# DuckDB mirror of curation.dsir_importance_weights: identical gram
# stream (unigrams + word bigrams), identical md5-hex bucket hash,
# identical add-1 smoothing.  SUMs of counts CAST BIGINT (DuckDB
# SUM(int) is HUGEINT-family otherwise).
DSIR_WEIGHTS_SQL = f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id, lang, u.g AS gram
        FROM t, UNNEST(list_concat(w,
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                 ELSE []::VARCHAR[] END)) AS u(g)),
    bucketed AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(gram), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
        FROM grams),
    per_doc AS (SELECT doc_id, lang, bucket, COUNT(*) AS cnt
                FROM bucketed GROUP BY 1, 2, 3),
    gstats AS (SELECT bucket,
                    SUM(cnt) AS raw_cnt,
                    SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS tgt_cnt
             FROM per_doc GROUP BY 1),
    tot AS (SELECT SUM(raw_cnt) AS raw_tot, SUM(tgt_cnt) AS tgt_tot FROM gstats),
    wts AS (SELECT bucket,
                   ln((tgt_cnt + 1) * 1.0 / (tgt_tot + {DSIR_BUCKETS}))
                 - ln((raw_cnt + 1) * 1.0 / (raw_tot + {DSIR_BUCKETS})) AS w
            FROM gstats CROSS JOIN tot)
    SELECT doc_id, lang,
           ROUND(SUM(cnt * w), 4) AS log_importance,
           CAST(SUM(cnt) AS BIGINT) AS n_grams
    FROM per_doc JOIN wts USING (bucket)
    GROUP BY 1, 2
"""


@register("curation_dsir_weights", DSIR_WEIGHTS_SQL)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DSIR hashed-ngram importance weights vs the 'en' target
    domain (operators/curation.py:dsir_importance_weights; Xie et al.
    2023, arXiv 2302.03169)."""
    return curation.dsir_importance_weights(load_table(spark, sf_dir, "documents"))


# DuckDB mirror of curation.perplexity_buckets: identical corpus-LM
# score (the text_unigram_logprob pipeline), identical
# histogram-with-cumulative-fraction tercile assignment (score DESC,
# tie-groups whole), identical composition aggregate, identical
# 'unscored' bucket for docs the LM never scores (NULL text — the
# only input whose token unnest emits zero rows; empty/whitespace
# text yields the '' token and is scored in both engines).  COUNTs
# CAST BIGINT for dtype parity.
PPL_BUCKETS_SQL = """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT SUM(tf) AS total FROM freq),
    scores AS (SELECT doc_id, ROUND(AVG(ln(tf / total)), 4) AS lp
               FROM toks JOIN freq USING (tok) CROSS JOIN tot
               GROUP BY doc_id),
    sc AS (SELECT s.doc_id, d.lang, s.lp
           FROM scores s JOIN documents d USING (doc_id)),
    hist AS (SELECT lang, lp, COUNT(*) AS n FROM sc GROUP BY 1, 2),
    cd AS (SELECT lang, lp,
                  SUM(n) OVER (PARTITION BY lang ORDER BY lp DESC)
                      * 1.0 / SUM(n) OVER (PARTITION BY lang) AS cf
           FROM hist),
    b AS (SELECT lang, lp,
                 CASE WHEN cf <= 1.0 / 3 THEN 'head'
                      WHEN cf <= 2.0 / 3 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM cd)
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(lp), 4) AS avg_logp,
           ROUND(MIN(lp), 4) AS min_logp,
           ROUND(MAX(lp), 4) AS max_logp
    FROM sc JOIN b USING (lang, lp)
    GROUP BY 1, 2
    UNION ALL
    SELECT lang, 'unscored' AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(NULL AS DOUBLE) AS avg_logp,
           CAST(NULL AS DOUBLE) AS min_logp,
           CAST(NULL AS DOUBLE) AS max_logp
    FROM documents
    WHERE string_split(text, ' ') IS NULL
       OR len(string_split(text, ' ')) = 0
    GROUP BY lang
"""


@register("curation_ppl_buckets", PPL_BUCKETS_SQL)
def curation_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] CCNet head/middle/tail perplexity terciles per language
    (operators/curation.py:perplexity_buckets; Wenzek et al. 2020,
    arXiv 1911.00359)."""
    return curation.perplexity_buckets(load_table(spark, sf_dir, "documents"))
