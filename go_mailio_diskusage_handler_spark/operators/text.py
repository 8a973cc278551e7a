"""[EXT] Text analysis for large-scale training-data pipelines.

Language-ID (stopword-profile heuristic), quality scoring, token
counting, and document fingerprinting over the ``documents`` table.
Everything here is built-in JVM expressions — string/regex/array
functions inside whole-stage codegen — because at 100 TB these run
over every document and a Python round-trip would dominate the job.
All formulas are mirrored 1:1 by DuckDB oracle SQL in the registry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from go_mailio_diskusage_handler_spark.operators.similarity import top_per_query
from go_mailio_diskusage_handler_spark.sources.tables import widen_for_compute

# Tiny per-language stopword profiles for the n-gram/stopword
# heuristic.  Deliberately small and deterministic — the point is the
# distributed scoring pattern (argmax over per-language hit counts),
# not lexicon quality.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "en", "est", "que"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein", "zu"),
}

TOKEN_SPLIT = " "
# BPE-ish word/piece pattern: runs of letters, digits, or single
# non-space symbols (public GPT-2-style segmentation, simplified).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens() -> Column:
    """The ``text`` column split into whitespace tokens."""
    return F.split(F.col("text"), TOKEN_SPLIT)


def word_ngrams(toks: Column, n: int) -> Column:
    """Space-joined word n-gram array in LINEAR time per row.

    Built as ``zip_with`` over ``n`` shifted ``slice``s of the token
    array.  Inside a higher-order lambda like ``transform(sequence(1,
    size(t) - k), i -> ... element_at(t, i) ...)`` the array argument
    ``t`` is re-evaluated PER ELEMENT when it is an expression
    (``split`` has no common-subexpression elimination across lambda
    boundaries), making n-gram construction O(tokens²) per document —
    a 6× slowdown of ``dedup.shingles`` observed at sf0.1.  The
    slice/zip_with form references the token expression a constant
    number of times per row.

    Rows with fewer than ``n`` tokens, and NULL ``toks``, give an
    empty ``array<string>``: the guard is built in because a
    non-positive slice length errors.  Tokens from ``split`` are never
    NULL, so ``concat`` here equals the previous ``concat_ws`` output.
    """
    count = F.size(toks) - (n - 1)
    parts = [F.slice(toks, j + 1, count) for j in range(n)]
    out = parts[n - 1]
    for j in range(n - 2, -1, -1):
        out = F.zip_with(parts[j], out, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.when(F.size(toks) >= n, out).otherwise(F.array().cast("array<string>"))


def token_stats(documents: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces."""
    return documents.select(
        "doc_id",
        F.size(tokens()).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_PATTERN), F.lit(0))).alias(
            "bpe_ish_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


def unigram_logprob_scores(documents: DataFrame) -> DataFrame:
    """Corpus-LM quality score: mean unigram log-probability per doc.

    The classic statistical quality filter for training corpora
    (gibberish and boilerplate sit in the tails of mean log p).  Two
    aggregations: corpus term frequencies (shuffle on token), then
    per-doc mean of ``ln(tf / total)`` via a token→frequency join
    (shuffle on token again — co-partitioned with the first, so AQE
    reuses the layout) and a doc-keyed aggregation.

    The corpus-total term count comes from an unpartitioned window
    over the FREQUENCY table — bounded by vocabulary size, not corpus
    size, so the single-partition window that is banned on fact tables
    is fine here (same driver-sized-aggregate argument as the serving
    map).  Scores round to 4 digits: group-sum order varies between
    engines at the last ulp.
    """
    toks = documents.select("doc_id", F.explode(tokens()).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    freq = freq.withColumn(
        "total", F.sum("tf").over(Window.partitionBy(F.lit(1)))
    )
    return (
        toks.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(F.log(F.col("tf") / F.col("total"))), 4).alias(
                "avg_logp"
            ),
            F.count(F.lit(1)).alias("n_tok"),
        )
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Quality heuristics: length, avg token length, punctuation and
    stopword ratios, distinct-token ratio (repetition detector)."""
    toks = tokens()
    n_tok = F.size(toks)
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_PROFILES["en"]]))
    )
    return documents.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        F.round((F.length("text") - n_tok + 1) / n_tok, 4).alias("avg_token_len"),
        F.round(
            F.size(F.regexp_extract_all("text", F.lit(r"[^\w\s]"), F.lit(0)))
            / F.greatest(F.length("text"), F.lit(1)),
            4,
        ).alias("punct_ratio"),
        F.round(stop_hits / n_tok, 4).alias("stopword_kind_ratio"),
        F.round(F.size(F.array_distinct(toks)) / n_tok, 4).alias("distinct_ratio"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-profile language ID: count profile hits per language,
    argmax with deterministic tie-break on language code.

    Distributed shape: pure per-row expression work — no shuffle at
    all; scales linearly with document count.
    """
    toks = tokens()
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias(
            f"score_{lang}"
        )
        for lang, words in LANG_PROFILES.items()
    ]
    scored = documents.select("doc_id", "lang", *scores)
    # argmax via greatest + chained when (deterministic order: en,es,fr,de)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_PROFILES])
    pred = F.lit(None).cast("string")
    for lang in reversed(list(LANG_PROFILES)):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("best_score"),
    )


# Character-trigram signatures per language (tiny, deterministic —
# the distributed pattern is the point, as with LANG_PROFILES).
CHAR_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "ing", " an"),
    "es": (" de", "de ", "os ", " la", "ión"),
    "fr": (" le", "es ", " de", "ent", "ion"),
    "de": ("en ", "er ", "ch ", "der", " di"),
}


def fingerprints(documents: DataFrame) -> DataFrame:
    """Document fingerprinting:

    * ``content_sha`` — exact-content hash (sha256) for exact dedup;
    * ``bow_fingerprint`` — order-insensitive bag-of-words md5 over
      sorted distinct tokens (catches shuffled/reordered copies);
    * ``head_fingerprint`` — md5 of the first 64 chars (cheap
      rolling-hash-style prefix signature).
    """
    toks = tokens()
    return documents.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("content_sha"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias(
            "bow_fingerprint"
        ),
        F.md5(F.substring("text", 1, 64)).alias("head_fingerprint"),
    )


def repetition_signals(documents: DataFrame) -> DataFrame:
    """Within-document repetition signals — the Gopher/MassiveText-
    style quality-filter family (Rae et al. 2021 §A1.1 use duplicate
    n-gram fractions and top-word dominance to drop boilerplate and
    looping generations):

    * ``dup_bigram_frac`` — fraction of word-bigram occurrences that
      are repeats of an earlier bigram in the same doc
      (``1 − distinct/total``; 0 for docs with < 2 words);
    * ``top_word_frac`` — share of the document's words taken by its
      single most frequent word.

    Bigram stats are pure per-row array expressions (no shuffle): the
    bigram list is ``word_ngrams(words, 2)`` (empty for 1-word docs),
    deduped with ``array_distinct`` — document-local work that scales
    with doc length, not corpus size.  Top-word dominance explodes to
    (doc, word) and double-aggregates (word counts → per-doc max);
    both aggregations partial-aggregate map-side, and the explode is
    the same shape the token-frequency tier already runs at 100 TB.
    """
    words = tokens()
    n = F.size(words)
    bigrams = word_ngrams(words, 2)
    per_doc = documents.select(
        "doc_id",
        n.alias("n_words"),
        F.size(bigrams).alias("total_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("distinct_bigrams"),
    )
    top = (
        documents.select("doc_id", F.explode(words).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_word_count"))
    )
    return per_doc.join(top, "doc_id").select(
        "doc_id",
        "n_words",
        F.round(
            F.when(
                F.col("total_bigrams") > 0,
                1.0 - F.col("distinct_bigrams") / F.col("total_bigrams"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_bigram_frac"),
        F.round(F.col("top_word_count") / F.col("n_words"), 4).alias(
            "top_word_frac"
        ),
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup via content hash: keep the smallest doc_id per
    distinct content, report group size.

    Plan shape at 100 TB: hash → partial min/count per partition →
    one shuffle on the 32-byte digest (uniformly distributed — no
    skew) → final.  Equivalent to ``dropDuplicates`` but keeps the
    winner choice deterministic and exposes duplicate counts.
    """
    return (
        documents.select(F.sha2("text", 256).alias("content_sha"), "doc_id")
        .groupBy("content_sha")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


TOP_NGRAMS_N = 2  # bigrams
TOP_NGRAMS_K = 20


def top_ngrams(documents: DataFrame) -> DataFrame:
    """Corpus-wide top-``TOP_NGRAMS_K`` word ``TOP_NGRAMS_N``-grams with
    occurrence counts — the heavy-hitter vocabulary scan every corpus
    audit starts with (boilerplate discovery, contamination triage,
    tokenizer QA).

    Plan shape at 100 TB: the explode materializes one row per n-gram
    OCCURRENCE, but the aggregation's partial phase combines them
    map-side within each scan task, so the one shuffle carries at most
    (distinct n-grams x tasks) rows — vocabulary-bounded, not
    corpus-bounded.  The final top-k is TakeOrderedAndProject (per-
    partition heap + driver merge of k x partitions rows), never a
    global sort.  Ties break on the n-gram string so the result is
    deterministic across partitionings and engines.
    """
    # widen_for_compute parallelizes the explode+partial-agg over the
    # fixtures' single-row-group scan exactly as the shingle family
    # does (no-op at scale where the scan yields many splits).
    grams = word_ngrams(tokens(), TOP_NGRAMS_N)
    return (
        widen_for_compute(documents)
        .select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .orderBy(F.desc("occurrences"), F.asc("ngram"))
        .limit(TOP_NGRAMS_K)
    )


TFIDF_TOP_TERMS = 3


def tfidf_top_terms(documents: DataFrame) -> DataFrame:
    """Per-document top-``TFIDF_TOP_TERMS`` TF-IDF terms — the classic keyword/topic
    signal for corpus audits and near-dup triage.

    Three bounded aggregations: term frequency per (doc, word) — one
    shuffle whose exchange is map-side combined; document frequency
    per word — vocabulary-bounded; corpus size N — one scalar
    broadcast (a 1-row frame, same pattern as heavy_users).  The
    tf·ln(N/df) score joins tf to df on the word key, and the top-k
    window partitions by doc_id (per-doc sort of ≤ |doc vocabulary|
    rows).  Ordering is engine-safe: two terms' scores are EQUAL iff
    their (tf, df) pairs are equal — then the word tie-break decides —
    and otherwise differ by far more than libm's 1-ulp ln jitter.
    """
    words = documents.select(
        "doc_id", F.explode(tokens()).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            F.col("word").alias("term"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select("*", F.row_number().over(w).alias("term_rank"))
        .filter(F.col("term_rank") <= TFIDF_TOP_TERMS)
    )


def normalized_exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact dedup after canonical text normalization — lowercase,
    non-alphanumerics to spaces, whitespace squeezed, trimmed —
    catching the trivially-reformatted duplicates (case, punctuation,
    spacing) that raw content hashing misses; the standard first
    rung of the dedup ladder, under the fuzzy tiers.

    Same single-shuffle shape as :func:`exact_dedup` (hash → partial
    min/count → exchange on the digest); normalization is a pure
    per-row JVM expression chain, free at scan time.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return (
        documents.select(F.sha2(norm, 256).alias("norm_sha"), "doc_id")
        .groupBy("norm_sha")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# PII patterns, restricted to the regex subset with identical
# semantics in Java (Spark) and RE2 (DuckDB): no lookaround, no
# backreferences, \b and bounded repetition only.  Redaction order
# matters (a phone match must not be half-eaten by the generic digit
# run): email → IPv4 → phone → long digit run, applied identically in
# the oracle SQL.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
PII_DIGIT_RUN = r"\b[0-9]{9,}\b"

_PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("emails", PII_EMAIL, "<EMAIL>"),
    ("ipv4", PII_IPV4, "<IP>"),
    ("phones", PII_PHONE, "<PHONE>"),
    ("id_runs", PII_DIGIT_RUN, "<ID>"),
)


def pii_signals(documents: DataFrame) -> DataFrame:
    """PII detection + redaction — the compliance pass every
    training-data pipeline runs before a corpus ships: per-document
    match counts for emails / IPv4 addresses / phone numbers / long
    digit runs, and the text with every match replaced by a typed
    placeholder.

    Everything is JVM regex inside whole-stage codegen (regexp_count
    + chained regexp_replace) — one narrow scan, no shuffle, no
    Python: at 100 TB this composes into the ingest projection for
    free.  Counts are computed on the ORIGINAL text per class, then
    redaction applies the same rules in a fixed order so overlapping
    classes (a digit run inside an already-redacted phone) cannot
    double-redact; the oracle mirrors the same order.
    """
    c = F.col("text")
    counts = [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in _PII_RULES
    ]
    red = c
    for _, pat, repl in _PII_RULES:
        red = F.regexp_replace(red, pat, repl)
    total = None
    for name, _, _ in _PII_RULES:
        col = F.col(f"n_{name}")
        total = col if total is None else total + col
    return documents.select(
        "doc_id", *counts, F.sha2(red, 256).alias("redacted_sha")
    ).select("*", total.cast("int").alias("n_pii"))


def chunk_documents(
    documents: DataFrame, window: int = 32, stride: int = 24
) -> DataFrame:
    """Overlapping token-window chunking — the context-window
    primitive for RAG indexing and long-document training: split each
    document into windows of ``window`` whitespace tokens advancing by
    ``stride`` (so consecutive chunks overlap by ``window - stride``),
    with a final short chunk iff tokens remain past the last full
    window's start.

    Chunk starts are ``1, 1+stride, 1+2·stride, …`` while start ≤
    n_words — deterministic, so the chunk table is reproducible under
    backfills.  One narrow projection + one explode, no shuffle: at
    100 TB this IS the map stage of the embedding-index build, and the
    output inherits the input's partitioning for the downstream
    encoder pass.  Emits (doc_id, chunk_id, start_tok, n_tokens,
    chunk_sha) — the hash stands in for the chunk text downstream
    (dedup of boilerplate chunks joins on it).
    """
    chunks = F.expr(
        f"transform(sequence(1, greatest(size(t), 1), {stride}), "
        f"s -> struct(s AS start_tok, "
        f"concat_ws(' ', slice(t, s, {window})) AS chunk))"
    )
    return (
        documents.select(
            "doc_id", tokens().alias("t")
        )
        .select("doc_id", F.size("t").alias("n_words"), F.posexplode(chunks))
        .select(
            "doc_id",
            (F.col("pos") + 1).alias("chunk_id"),
            F.col("col.start_tok").alias("start_tok"),
            F.least(
                F.lit(window), F.col("n_words") - F.col("col.start_tok") + 1
            ).alias("n_tokens"),
            F.sha2(F.col("col.chunk"), 256).alias("chunk_sha"),
        )
    )


TFIDF_MAX_DOC_FREQ = 1000


def tfidf_cosine_pairs(documents: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Weighted lexical near-dup: cosine over L2-normalized TF-IDF
    vectors, computed with a SPARSE inverted-index join — no dense
    vectors, no all-pairs scan.  Complements the set-based tiers
    (Jaccard ignores term weights; two docs sharing rare vocabulary
    score higher here than two sharing stopwords).

    The classic sparse-similarity plan: per-doc term weights
    ``tf · ln(N/df)`` normalized by the doc's L2 norm; then
    ``cos(A,B) = Σ_t w_At·w_Bt`` falls out of ONE self-join on term
    with a pair-keyed sum.  Join volume is Σ_t df_t², so terms above
    ``TFIDF_MAX_DOC_FREQ`` are dropped up front (same hot-key fence as the
    shingle DF cap — their idf weight is near zero anyway, the join
    cost is the real reason).  At 100 TB this is the plan vector-DB
    "sparse retrieval" backends run; the DF cap plus rare-term
    skew makes every join group small.

    Floats: ln/sqrt are correctly-rounded-enough to agree across
    engines; pair sums differ at the last ulp between engines, so the
    cosine rounds to 4 digits BEFORE the threshold filter in both.
    """
    n_docs = documents.count()
    toks = documents.select(
        "doc_id", F.explode(tokens()).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= TFIDF_MAX_DOC_FREQ)
    )
    w = tf.join(df, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("wgt"),
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("wgt") * F.col("wgt"))).alias("nrm")
    )
    # nrm = 0 (every term zero-idf) would make wn NaN, and the two
    # engines disagree on NaN-vs-threshold comparisons — drop such
    # docs explicitly (they carry no signal anyway).
    wn = (
        w.join(nrm.filter(F.col("nrm") > 0), "doc_id")
        .select("doc_id", "term", (F.col("wgt") / F.col("nrm")).alias("wn"))
    )
    return (
        wn.alias("a")
        .join(
            wn.alias("b"),
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.round(F.sum(F.col("a.wn") * F.col("b.wn")), 4).alias("cos_tfidf"))
        .filter(F.col("cos_tfidf") >= threshold)
    )


def language_confusion(documents: DataFrame) -> DataFrame:
    """Confusion matrix for the stopword-profile language ID against
    the fixture's labels: (labeled, predicted, n, share-of-labeled) —
    the evaluation artifact that turns a classifier op into a
    monitored one.  Pure aggregation over :func:`language_id`'s
    output; |languages|²-bounded result, share normalized per labeled
    class (row-stochastic).
    """
    scored = language_id(documents)
    counts = scored.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("labeled_lang")
    return counts.select(
        "labeled_lang",
        "predicted_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("share"),
    )


ZIPF_TOP_WORDS = 100


def zipf_fit(documents: DataFrame) -> DataFrame:
    """Zipf's-law fit over the corpus word-frequency distribution:
    least-squares regression of ln(frequency) on ln(rank) for the top
    ``ZIPF_TOP_WORDS`` words — slope ≈ -1 is the healthy-natural-text signature;
    a flat slope flags templated/boilerplate corpora and a cliff
    flags token-collapse, so this is the single-number corpus-health
    probe next to the per-document quality scores.

    Scale shape: the corpus-sized work is ONE vocabulary-bounded
    word-count aggregation (map-side combined); the ordered top-k is
    TakeOrderedAndProject (no global sort) and the regression runs
    over exactly ``ZIPF_TOP_WORDS`` rows, so the SinglePartition rank window and
    the final 1-row aggregate are k-bounded, not corpus-bounded.
    """
    words = documents.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    top = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(ZIPF_TOP_WORDS)
    ranked = top.select(
        F.log(
            F.row_number().over(
                Window.orderBy(F.desc("cnt"), F.asc("w"))
            ).cast("double")
        ).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.expr("regr_slope(y, x)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(y, x)"), 6).alias("intercept"),
        F.round(F.expr("regr_r2(y, x)"), 6).alias("r2"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERIES = 4
BM25_QUERY_TERMS = 8
BM25_TOPK = 10


def bm25_topk(documents: DataFrame) -> DataFrame:
    """BM25 lexical retrieval: the first ``BM25_QUERIES`` documents play
    queries (represented by their ``BM25_QUERY_TERMS`` most-frequent
    terms), every other document is scored with the Lucene-form BM25
    (idf = ln(1 + (N - df + .5)/(df + .5)) — always positive) and the
    top ``BM25_TOPK`` are ranked per query.  This is the classical-IR rung
    under the TF-IDF-cosine and RRF-hybrid queries: term-at-a-time
    scoring over a postings table.

    Scale shape: the corpus-sized artifacts are the postings
    aggregation (term, doc, tf) and two tiny side aggregates (per-doc
    length, per-term df) — all one shuffle each; the query side is
    BM25_QUERIES × BM25_QUERY_TERMS rows, broadcast into the postings join,
    so candidate volume is bounded by the probed terms' posting
    lists.  At 100 TB the posting lists of stopword-grade terms
    dominate; production adds WAND/max-score pruning on top of the
    same postings layout (the df-capped shingle index next door is
    the same fence in spirit).  Scores are 6-rounded before ranking
    in both engines; ties break on doc_id.
    """
    words = documents.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    postings = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("tf")
    )
    from pyspark import StorageLevel

    postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    dl = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n_corpus = documents.count()
    avgdl = dl.agg(F.avg("dl")).collect()[0][0]
    if avgdl is None:
        # avg() over zero rows collects as None; a raw float(None)
        # TypeError downstream is opaque — fail like kmeans_train does
        # on the same degenerate input.
        raise ValueError("BM25 needs a non-empty tokenized corpus")
    df_t = postings.groupBy("w").agg(
        F.count(F.lit(1)).alias("df")
    )
    qw = Window.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("w"))
    qterms = (
        postings.filter(F.col("doc_id") < BM25_QUERIES)
        .select(
            F.col("doc_id").alias("query_id"),
            "w",
            F.row_number().over(qw).alias("qrk"),
        )
        .filter(F.col("qrk") <= BM25_QUERY_TERMS)
        .drop("qrk")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_corpus)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        postings.join(F.broadcast(qterms), "w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df_t), "w")
        .join(dl, "doc_id")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    return top_per_query(scored, BM25_TOPK, F.desc("score"), F.asc("doc_id"))


def corpus_datacard(documents: DataFrame) -> DataFrame:
    """The data-card summary block: corpus-level metrics as one
    (metric, value) table — doc/source/language counts, size totals,
    token statistics, and the exact-duplicate rate — the numbers a
    dataset release documents up front (public datasheet/data-card
    practice), computed in ONE pass.

    All metrics fold into a single aggregation over the scan
    (count_distinct included); the pivot to rows is a zero-cost
    stack() over the 1-row result, so the datacard costs exactly one
    corpus read however many metrics it reports.
    """
    toks = F.size(F.split(F.lower("text"), r"\s+"))
    agg = documents.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(toks).alias("total_tokens"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("distinct_texts"),
    )
    pairs = ", ".join(
        f"'{m}', CAST({expr} AS DOUBLE)"
        for m, expr in [
            ("n_docs", "n_docs"),
            ("n_sources", "n_sources"),
            ("n_langs", "n_langs"),
            ("total_chars", "total_chars"),
            ("total_tokens", "total_tokens"),
            ("mean_doc_tokens", "ROUND(total_tokens / n_docs, 4)"),
            ("distinct_texts", "distinct_texts"),
            (
                "exact_dup_rate",
                "ROUND(1.0 - distinct_texts * 1.0 / n_docs, 4)",
            ),
        ]
    )
    n = 8
    return agg.selectExpr(f"stack({n}, {pairs}) AS (metric, value)")


def length_histogram(documents: DataFrame) -> DataFrame:
    """Log₂-bucketed document-length histogram: the corpus size
    distribution behind chunking and packing decisions (how much is
    tweet-sized vs book-sized), datacard companion.

    The bucket is ``length(bin(n_chars))`` — the bit length of the
    integer — so bucket edges are EXACT powers of two computed in
    integer space: a float ``floor(log2(n))`` flips at the boundary
    (log2(1024) can land at 9.999…) and splits across engines; the
    binary-string length cannot.  One map-side-combined aggregation,
    ≤ 64 output rows.
    """
    bucket = F.length(F.expr("bin(length(text))")).alias("log2_bucket")
    hist = documents.groupBy(bucket).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min(F.length("text")).alias("min_chars"),
        F.max(F.length("text")).alias("max_chars"),
    )
    total = hist.agg(F.sum("n_docs").alias("t"))
    return hist.crossJoin(F.broadcast(total)).select(
        "log2_bucket",
        "n_docs",
        "min_chars",
        "max_chars",
        F.round(F.col("n_docs") / F.col("t"), 4).alias("share"),
    )


# Content-defined chunking: gram width, polynomial base and the cut
# modulus (expected chunk length ≈ CDC_MODULUS + CDC_WIDTH chars).
CDC_WIDTH = 8
CDC_BASE = 31
CDC_MODULUS = 61


def _cdc_gram_hash_sql(text_col: str, pos_col: str) -> str:
    """Base-31 polynomial hash of the CDC_WIDTH-gram at 1-based
    ``pos_col`` — written as explicit literal-coefficient terms so the
    DuckDB oracle can evaluate the byte-identical expression (no
    engine hash function, no pow(): coefficients are precomputed ints
    and the sum stays < 31^8·255 ≈ 2.3e14, safely inside BIGINT)."""
    return " + ".join(
        f"CAST(ascii(substring({text_col}, {pos_col}+{j}, 1)) AS BIGINT)"
        f" * {CDC_BASE ** (CDC_WIDTH - 1 - j)}"
        for j in range(CDC_WIDTH)
    )


def cdc_chunk_stats(documents: DataFrame) -> DataFrame:
    """[EXT] Content-defined chunking (CDC) dedup profile per source.

    Fixed-size shingles shift at every insertion, so exact-duplicate
    *passages* embedded at different offsets defeat block-level dedup.
    CDC places chunk boundaries where a rolling content hash hits a
    modulus — boundaries move WITH the content, so a shared passage
    yields identical chunks regardless of its offset in the document
    (the trick behind storage dedup and rsync).  Per document: cut
    where the base-31 polynomial hash of the 8-gram starting at
    position i divides by 61 (expected chunk ≈ 69 chars); chunks are
    the substrings between consecutive cuts.

    The plan is fully relational and JVM-side: a per-row array expr
    computes cut positions (no Python UDF), one explode emits only the
    cuts (not every position), a per-doc window turns consecutive cuts
    into substrings, and one hash-agg profiles chunk sharing per
    source — total/distinct chunk counts quantify the corpus'
    CDC-dedupable redundancy.  Scale note: the text column rides
    along the cut explode (~len/61 copies per doc); at 100 TB chunk
    *extraction* would keep the array form (transform over cut pairs)
    to explode chunk strings directly instead — same semantics, this
    relational form is kept because the oracle mirrors it clause for
    clause.
    """
    # The per-position polynomial hash is O(chars x CDC_WIDTH) of pure
    # expression work rooted in the scan — widen a single-split local
    # scan first or it runs on one core (measured 14 s -> 1.6 s at
    # sf0.1/local[32]; no-op when the scan already parallelizes).
    d = widen_for_compute(documents).select(
        "doc_id", "source", F.coalesce(F.col("text"), F.lit("")).alias("t")
    )
    gram = _cdc_gram_hash_sql("t", "i")
    cuts = F.expr(
        f"CASE WHEN length(t) >= {CDC_WIDTH + 1} THEN "
        f"  filter(sequence(2, length(t) - {CDC_WIDTH - 1}), "
        f"         i -> ({gram}) % {CDC_MODULUS} = 0) "
        f"ELSE array() END"
    )
    bounds = d.select(
        "doc_id",
        "source",
        "t",
        F.explode(
            F.concat(cuts, F.array((F.length("t") + F.lit(1)).cast("int")))
        ).alias("cut"),
    )
    w = Window.partitionBy("doc_id").orderBy("cut")
    chunks = bounds.withColumn(
        "prev", F.coalesce(F.lag("cut").over(w), F.lit(1))
    ).select(
        "doc_id",
        "source",
        F.expr("substring(t, prev, cut - prev)").alias("chunk"),
    )
    return chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_chunks"),
        F.countDistinct("chunk").alias("distinct_chunks"),
        F.sum(F.length("chunk")).alias("total_chunk_chars"),
    )


# ---------------------------------------------------------------------------
# Gopher-style fixed-threshold rule gate
# ---------------------------------------------------------------------------

#: Gopher/MassiveText rule thresholds (Rae et al. 2021, table A1 —
#: public arXiv 2112.11446).  Word-count bounds are scaled to this
#: fixture's doc lengths; the RULE SET is the point, not the numbers.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN_RANGE = (3.0, 10.0)
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORD_KINDS = 2
GOPHER_MAX_DUP_BIGRAM_FRAC = 0.3


def gopher_rule_gate(documents: DataFrame) -> DataFrame:
    """Fixed-threshold document filter in the Gopher/MassiveText style:
    one boolean per rule plus the conjunction ``keep``.

    Unlike ``quality_scores`` (continuous scores, reader decides) and
    ``curation.adaptive_quality_gate`` (per-source data-driven cutoffs),
    this is the DECLARED-threshold gate a pretraining pipeline runs
    first: word-count bounds, mean-word-length band, alphabetic-word
    fraction, minimum distinct stopwords, and a duplicate-bigram
    repetition cap.

    Distributed shape: pure per-row array expressions — zero shuffles,
    scales linearly in document count; the bigram list is
    document-local (``word_ngrams``, as in ``repetition_signals``).
    """
    w = tokens()
    n = F.size(w)
    # word chars = total chars minus the n-1 separators (same formula
    # as quality_scores.avg_token_len).
    mean_len = (F.length("text") - n + 1) / n
    alpha_frac = F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / n
    stop_kinds = F.size(
        F.array_intersect(w, F.array(*[F.lit(s) for s in LANG_PROFILES["en"]]))
    )
    bigrams = word_ngrams(w, 2)
    dup_frac = F.when(
        F.size(bigrams) == 0, F.lit(0.0)
    ).otherwise(1.0 - F.size(F.array_distinct(bigrams)) / F.size(bigrams))

    lo, hi = GOPHER_MEAN_LEN_RANGE
    r_word_count = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    r_mean_word_len = (mean_len >= lo) & (mean_len <= hi)
    r_alpha_frac = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
    r_stopwords = stop_kinds >= GOPHER_MIN_STOPWORD_KINDS
    r_repetition = dup_frac <= GOPHER_MAX_DUP_BIGRAM_FRAC
    return documents.select(
        "doc_id",
        n.alias("n_words"),
        r_word_count.alias("r_word_count"),
        r_mean_word_len.alias("r_mean_word_len"),
        r_alpha_frac.alias("r_alpha_frac"),
        r_stopwords.alias("r_stopwords"),
        r_repetition.alias("r_repetition"),
        (
            r_word_count & r_mean_word_len & r_alpha_frac & r_stopwords & r_repetition
        ).alias("keep"),
    )
