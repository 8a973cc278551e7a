"""Text family (``text_``, ``docs_``): token and n-gram
statistics, language ID, quality and repetition rules, PII,
chunking, TF-IDF / BM25, and per-source document reports, plus the
word-shingle oracle CTEs (``_SHINGLE_CTES``, ``_CAPPED_SHINGLE_CTES``)
that the dedup, curation and similarity families share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, relational, text
from ..sources.tables import load_table
from ._base import register, register_texts


@register(
    "text_token_stats",
    rf"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS bpe_ish_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_actual
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(load_table(spark, sf_dir, "documents"))


_EN_STOPS = "', '".join(text.LANG_PROFILES["en"])


@register(
    "text_quality_scores",
    rf"""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars_actual,
           CAST(len(t) AS INTEGER) AS n_tokens,
           ROUND((length(text) - len(t) + 1) * 1.0 / len(t), 4) AS avg_token_len,
           ROUND(len(regexp_extract_all(text, '[^\w\s]')) * 1.0 /
                 greatest(length(text), 1), 4) AS punct_ratio,
           ROUND(len(list_intersect(t, ['{_EN_STOPS}'])) * 1.0 / len(t), 4)
               AS stopword_kind_ratio,
           ROUND(len(list_distinct(t)) * 1.0 / len(t), 4) AS distinct_ratio
    FROM toks
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_scores(load_table(spark, sf_dir, "documents"))


@register(
    "text_unigram_logprob",
    """
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    freq AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT SUM(tf) AS total FROM freq)
    SELECT doc_id,
           ROUND(AVG(ln(tf / total)), 4) AS avg_logp,
           COUNT(*) AS n_tok
    FROM toks JOIN freq USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM mean unigram log-prob quality score
    (text.unigram_logprob_scores)."""
    return text.unigram_logprob_scores(load_table(spark, sf_dir, "documents"))


def _ddb_trigram_score(lang: str) -> str:
    return " + ".join(
        f"CAST((length(text) - length(replace(text, '{tg}', ''))) / {len(tg)} AS BIGINT)"
        for tg in text.CHAR_TRIGRAM_PROFILES[lang]
    )


register_texts(__name__, {
    "text_language_ngram": f"""
    WITH s AS (SELECT doc_id, lang,
                      {_ddb_trigram_score('en')} AS score_en,
                      {_ddb_trigram_score('es')} AS score_es,
                      {_ddb_trigram_score('fr')} AS score_fr,
                      {_ddb_trigram_score('de')} AS score_de
               FROM documents),
    b AS (SELECT *, greatest(score_en, score_es, score_fr, score_de) AS best FROM s)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN score_en = best THEN 'en'
                WHEN score_es = best THEN 'es'
                WHEN score_fr = best THEN 'fr'
                ELSE 'de' END AS predicted_lang,
           best AS best_score
    FROM b
    """,
})


def _lang_scores_sql() -> str:
    cols = []
    for lang, words in text.LANG_PROFILES.items():
        lst = "', '".join(words)
        cols.append(
            f"CAST(len(list_intersect(t, ['{lst}'])) AS INTEGER) AS score_{lang}"
        )
    return ", ".join(cols)


_LANGS = list(text.LANG_PROFILES)


@register(
    "text_language_id",
    f"""
    WITH scored AS (
        SELECT doc_id, lang, {_lang_scores_sql()}
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents)
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE {' '.join(f"WHEN score_{l} = greatest({', '.join('score_' + x for x in _LANGS)}) THEN '{l}'" for l in _LANGS)}
           END AS predicted_lang,
           greatest({', '.join('score_' + x for x in _LANGS)}) AS best_score
    FROM scored
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "text_fingerprints",
    """
    SELECT doc_id,
           sha256(text) AS content_sha,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS bow_fingerprint,
           md5(substr(text, 1, 64)) AS head_fingerprint
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "text_repetition",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    b AS (SELECT doc_id, array_length(ws) AS n_words,
                 CASE WHEN array_length(ws) >= 2
                      THEN list_transform(range(1, array_length(ws)),
                                          i -> ws[i] || ' ' || ws[i + 1])
                      ELSE CAST([] AS VARCHAR[]) END AS bigs
          FROM w),
    tw AS (SELECT doc_id, MAX(c) AS top_word_count FROM (
               SELECT doc_id, word, COUNT(*) AS c
               FROM (SELECT doc_id, unnest(ws) AS word FROM w)
               GROUP BY doc_id, word)
           GROUP BY doc_id)
    SELECT b.doc_id, CAST(n_words AS INTEGER) AS n_words,
           ROUND(CASE WHEN array_length(bigs) > 0
                      THEN 1.0 - array_length(list_distinct(bigs)) * 1.0
                                 / array_length(bigs)
                      ELSE 0.0 END, 4) AS dup_bigram_frac,
           ROUND(top_word_count * 1.0 / n_words, 4) AS top_word_frac
    FROM b JOIN tw ON b.doc_id = tw.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-bigram
    fraction + top-word dominance) — text.repetition_signals."""
    return text.repetition_signals(load_table(spark, sf_dir, "documents"))


#: DuckDB mirror of dedup.shingles: the DISTINCT word trigrams of
#: every document with at least three tokens, and their count per
#: document.  The dedup, curation and similarity oracles build on it.
_SHINGLE_CTES = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             WHERE len(string_split(text, ' ')) >= 3),
    shingles AS (SELECT DISTINCT doc_id, u.s AS shingle
                 FROM toks, UNNEST(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
"""


#: Same shingle pipeline with the document-frequency cap active —
#: mirrors dedup.cap_shingle_df for every query in the ngram-Jaccard
#: family (dedup_ngram_jaccard / dedup_clusters / curation_*).
_CAPPED_SHINGLE_CTES = f"""
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             WHERE len(string_split(text, ' ')) >= 3),
    all_shingles AS (SELECT DISTINCT doc_id, u.s AS shingle
                 FROM toks, UNNEST(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(s)),
    shingles AS (SELECT a.doc_id, a.shingle FROM all_shingles a
                 JOIN (SELECT shingle FROM all_shingles GROUP BY shingle
                       HAVING COUNT(*) <= {dedup.MAX_SHINGLE_DF}) r
                   ON a.shingle = r.shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id)
"""


register_texts(__name__, {
    "docs_source_stats": """
    SELECT source, lang,
           COUNT(*) AS doc_count,
           CAST(SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_chars_consistent,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY source, lang
    """,
})


TOP_NGRAMS_SQL = """
    WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
    b AS (SELECT u.bg AS ngram
          FROM w, UNNEST(CASE WHEN len(ws) >= 2
                              THEN list_transform(range(1, len(ws)),
                                                  i -> ws[i] || ' ' || ws[i + 1])
                              ELSE CAST([] AS VARCHAR[]) END) AS u(bg))
    SELECT ngram, COUNT(*) AS occurrences
    FROM b GROUP BY ngram
    ORDER BY occurrences DESC, ngram ASC LIMIT 20
"""


@register("text_ngram_topk", TOP_NGRAMS_SQL)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams (text.top_ngrams) — map-side-combined
    aggregation + TakeOrderedAndProject, vocabulary-bounded shuffle."""
    return text.top_ngrams(load_table(spark, sf_dir, "documents"))


TFIDF_SQL = """
    WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                   FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words
           GROUP BY doc_id, word),
    dft AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (SELECT doc_id, tf.word AS term,
                      ROUND(tf * ln(n_docs * 1.0 / df), 4) AS tfidf
               FROM tf JOIN dft ON tf.word = dft.word, n)
    SELECT doc_id, term, tfidf,
           CAST(rk AS INTEGER) AS term_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term ASC) AS rk FROM scored)
    WHERE rk <= 3
"""


@register("text_tfidf_topterms", TFIDF_SQL)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — text.tfidf_top_terms
    (vocabulary-bounded aggregations + broadcast corpus-size
    scalar)."""
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


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


# DuckDB mirror of text.cdc_chunk_stats, clause for clause: same
# literal-coefficient polynomial gram hash, same cut positions, the
# same sentinel-row + LAG chunk reconstruction.
_CDC_GRAM_DUCK = text._cdc_gram_hash_sql("t", "cut")


CDC_CHUNKS_SQL = f"""
    WITH d AS (SELECT doc_id, source, COALESCE(text, '') AS t FROM documents),
    pos AS (SELECT doc_id, source, t,
                   unnest(range(2, GREATEST(len(t) - {text.CDC_WIDTH - 2}, 2))) AS cut
            FROM d),
    cuts AS (SELECT doc_id, source, t, CAST(cut AS INT) AS cut
             FROM pos WHERE ({_CDC_GRAM_DUCK}) % {text.CDC_MODULUS} = 0),
    sent AS (SELECT doc_id, source, t, CAST(len(t) + 1 AS INT) AS cut FROM d),
    b AS (SELECT * FROM cuts UNION ALL SELECT * FROM sent),
    lagged AS (SELECT doc_id, source, t, cut,
                      COALESCE(LAG(cut) OVER (PARTITION BY doc_id ORDER BY cut), 1)
                          AS prev
               FROM b),
    chunks AS (SELECT doc_id, source, substring(t, prev, cut - prev) AS chunk
               FROM lagged)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_chunks,
           CAST(COUNT(DISTINCT chunk) AS BIGINT) AS distinct_chunks,
           CAST(SUM(len(chunk)) AS BIGINT) AS total_chunk_chars
    FROM chunks GROUP BY source
"""


@register("text_cdc_chunks", CDC_CHUNKS_SQL)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Content-defined chunking dedup profile: rolling-hash cut
    points make shared passages yield identical chunks at any offset;
    per-source total vs distinct chunk counts quantify CDC-dedupable
    redundancy (operators/text.py:cdc_chunk_stats)."""
    return text.cdc_chunk_stats(load_table(spark, sf_dir, "documents"))


# DuckDB mirror of text.gopher_rule_gate: same tokenization, same
# guarded bigram list, same thresholds.
GOPHER_RULES_SQL = """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    b AS (SELECT doc_id, text, w, len(w) AS n,
                 CASE WHEN len(w) >= 2
                      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                      ELSE []::VARCHAR[] END AS bg
          FROM t),
    r AS (SELECT doc_id,
                 CAST(n AS INTEGER) AS n_words,
                 (n BETWEEN 50 AND 100000) AS r_word_count,
                 ((length(text) - n + 1) * 1.0 / n BETWEEN 3.0 AND 10.0)
                     AS r_mean_word_len,
                 (len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / n
                     >= 0.8) AS r_alpha_frac,
                 (len(list_intersect(w, ['the','and','of','to','a','in','is','it']))
                     >= 2) AS r_stopwords,
                 (CASE WHEN len(bg) = 0 THEN 0.0
                       ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END
                     <= 0.3) AS r_repetition
          FROM b)
    SELECT doc_id, n_words, r_word_count, r_mean_word_len, r_alpha_frac,
           r_stopwords, r_repetition,
           (r_word_count AND r_mean_word_len AND r_alpha_frac AND r_stopwords
            AND r_repetition) AS keep
    FROM r
"""


@register("text_gopher_rules", GOPHER_RULES_SQL)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Gopher/MassiveText fixed-threshold rule gate with per-rule
    flags (operators/text.py:gopher_rule_gate; Rae et al. 2021,
    arXiv 2112.11446 table A1)."""
    return text.gopher_rule_gate(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# text_bpe_pairs — BPE merge-step statistics, vocabulary-bounded
# ---------------------------------------------------------------------------

# DuckDB mirror: same two-level shape — word frequencies first, then
# character pairs over the DISTINCT vocabulary weighted by frequency.
TEXT_BPE_PAIRS_ORACLE = """
    WITH wf AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE w <> '' GROUP BY w),
    pairs AS (
        SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, cnt
        FROM wf, unnest(range(1, length(w))) AS t(i)
        WHERE length(w) >= 2)
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occ
    FROM pairs GROUP BY pair ORDER BY n_occ DESC, pair LIMIT 20
"""


@register("text_bpe_pairs", TEXT_BPE_PAIRS_ORACLE)
def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BPE tokenizer training, first merge step: corpus-wide
    adjacent-character-pair frequencies, the statistic each
    byte-pair-encoding iteration maximizes (Sennrich et al. 2016).

    Scale design — the trainer shape, not the naive one: the corpus is
    collapsed to WORD FREQUENCIES first (one map-side-combined groupBy
    over a vocabulary-bounded key), and character pairs are then
    enumerated over the DISTINCT vocabulary only, weighted by the
    word's corpus count — at 100 TB the pair-enumeration leg touches
    |vocab| rows (millions), never the corpus's token occurrences
    (trillions).  This is exactly how production BPE trainers
    (SentencePiece, HF tokenizers) structure the loop.  Pair explode is
    a JVM-side generator (transform + sequence), zero Python; the
    final top-k is TakeOrderedAndProject, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(text.tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wf.filter(F.length("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n_occ"))
        .orderBy(F.desc("n_occ"), "pair")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# text_hash_classifier — fastText-style hashed linear quality model
# ---------------------------------------------------------------------------

# Shared hash→weight convention: bucket = first two md5 nibbles of the
# token (0..255, identical in Spark and DuckDB — both md5 UTF-8 bytes
# to lowercase hex), integer weight = bucket % 61 - 30 ∈ [-30, 30].
# Weights SUM as exact integers and the mean weight is ONE IEEE
# division (s / (30·n)) — bit-identical across engines (a float AVG's
# addition order is not: the first cut of this oracle flaked at sf0.1
# on a 0.7388/0.7389 rounding boundary).
#
# The logistic link is the ALGEBRAIC sigmoid 0.5 + x/(2·(1+|x|)), not
# 1/(1+exp(-x)) (ADVICE r11): libm/JVM exp is not correctly rounded,
# so the exp form could differ in the last ulp across engines and
# flip ROUND(,4) — and the keep flag with it — whenever the true
# value sits within an ulp of a 0.00005 boundary.  Every op in the
# algebraic form (+ - * / abs on doubles) IS correctly rounded by
# IEEE 754, so the identical expression tree yields the identical
# bit pattern in both engines; keep compares the UNROUNDED score, so
# no rounding boundary exists at all (pinned by
# tests/test_advice_r11.py::test_algebraic_sigmoid_bit_identity).
TEXT_HASH_CLASSIFIER_ORACLE = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    scored AS (
        SELECT doc_id,
               ((instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1) * 16
                + (instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1))
               % 61 - 30 AS wgt
        FROM tok WHERE w <> ''),
    agg AS (
        SELECT doc_id,
               ((SUM(wgt) / (30.0 * COUNT(*))) * 8.0) AS x
        FROM scored GROUP BY doc_id)
    SELECT doc_id,
           ROUND(0.5 + (x / (2.0 * (1.0 + abs(x)))), 4) AS quality_prob,
           CAST((0.5 + (x / (2.0 * (1.0 + abs(x))))) >= 0.503 AS BOOLEAN)
               AS keep
    FROM agg
"""


@register("text_hash_classifier", TEXT_HASH_CLASSIFIER_ORACLE)
def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Hashed-feature linear quality classifier — the fastText /
    CCNet-style model-based document filter: each token hashes to a
    weight bucket (the hashing trick, no vocabulary dict), the doc
    score is the mean bucket weight through a squashing link, and the
    keep decision thresholds the UNROUNDED score.  Weights here are a
    deterministic function of the bucket so both engines share the
    model exactly; in production the 2^B-entry weight table is a
    BROADCAST literal learned offline — same plan shape.  The link is
    the algebraic sigmoid x ↦ 0.5 + x/(2·(1+|x|)) rather than
    1/(1+exp(-x)): every op in it is IEEE-correctly-rounded, so the
    score is bit-reproducible across engines/libm versions (exp is
    not), which is what makes the keep threshold deterministic.

    Scale: one explode + one doc-keyed map-side-combined aggregate;
    hash, weight lookup, and sigmoid are all whole-stage-codegen
    expressions — zero Python, zero extra shuffles beyond the
    per-doc combine."""
    docs = load_table(spark, sf_dir, "documents")
    nib1 = "instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1"
    nib2 = "instr('0123456789abcdef', substring(md5(w), 2, 1)) - 1"
    wgt = f"(({nib1}) * 16 + ({nib2})) % 61 - 30"
    x = (F.sum(F.expr(wgt)) / (30.0 * F.count(F.lit(1)))) * 8.0
    prob_raw = 0.5 + (x / (2.0 * (1.0 + F.abs(x))))
    return (
        docs.select("doc_id", F.explode(text.tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id")
        .agg(
            F.round(prob_raw, 4).alias("quality_prob"),
            (prob_raw >= 0.503).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# text_url_canonicalize — URL parsing + canonical dedup counts
# ---------------------------------------------------------------------------

# Per-doc URLs are SYNTHESIZED from typed columns (source/lang/doc_id)
# so the DuckDB oracle can verify the whole parse+canonicalize pipeline
# from raw values: host extraction mirrors parse_url(HOST) via regexp,
# the tracking-parameter strip mirrors the regexp_replace, and every
# output is a deterministic string/BIGINT.  doc_id % 5 routes a fifth
# of the docs to an uppercase host spelling and doc_id % 3 appends a
# fragment, so the lowercase-host and fragment-drop rules are actually
# load-bearing in the compare.
URL_CANONICALIZE_ORACLE = """
    WITH u AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN 'https://WWW.' || upper(source) || '.example.com'
                    ELSE 'https://www.' || source || '.example.com' END
               || '/' || lang || '/doc/' || doc_id
               || '?utm_source=feed&id=' || (doc_id % 7)
               || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents),
    parsed AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
               regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query
        FROM u),
    canon AS (
        SELECT doc_id, host,
               host || path ||
               CASE WHEN trim(regexp_replace(query,
                         '(^|&)utm_[^&]*', '', 'g'), '&') = ''
                    THEN ''
                    ELSE '?' || trim(regexp_replace(query,
                         '(^|&)utm_[^&]*', '', 'g'), '&') END AS canonical
        FROM parsed)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_canonical,
           MIN(canonical) AS sample_url
    FROM canon GROUP BY host
"""


@register("text_url_canonicalize", URL_CANONICALIZE_ORACLE)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] URL canonicalization — the CommonCrawl-pipeline dedup
    key: ``parse_url`` host/path/query extraction, lowercased host,
    fragment dropped (parse_url never returns it), ``utm_*`` tracking
    parameters stripped by one regexp pass — then per-host exact-dup
    accounting on the canonical form.  This is the normalization tier
    that runs BEFORE content dedup in a web-scale corpus: two fetches
    of one page differing only in tracking params must collapse.

    Scale: parse_url and the regexp are whole-stage-codegen
    expressions; one hash aggregate on host (bounded by the source
    domain), with the distinct-canonical count inside the same
    shuffle.  No Python, no second pass."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("https://WWW."), F.upper("source"),
                     F.lit(".example.com")),
        ).otherwise(
            F.concat(F.lit("https://www."), F.col("source"),
                     F.lit(".example.com"))
        ),
        F.lit("/"), F.col("lang"), F.lit("/doc/"), F.col("doc_id"),
        F.lit("?utm_source=feed&id="), F.col("doc_id") % 7,
        F.when(F.col("doc_id") % 3 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    parsed = docs.select(
        "doc_id",
        F.lower(F.parse_url(url, F.lit("HOST"))).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )
    cleaned = F.expr("trim(BOTH '&' FROM regexp_replace(query, '(^|&)utm_[^&]*', ''))")
    canon = parsed.select(
        "host",
        F.concat(
            F.col("host"), F.col("path"),
            F.when(cleaned == "", F.lit("")).otherwise(F.concat(F.lit("?"), cleaned)),
        ).alias("canonical"),
    )
    return canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("canonical")).alias("n_canonical"),
        F.min("canonical").alias("sample_url"),
    )
