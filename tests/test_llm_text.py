"""[EXT] LLM-pipeline text ops: oracle parity + algorithmic properties
(LSH recall against exact Jaccard ground truth)."""

from __future__ import annotations

import pytest

from go_mailio_diskusage_handler_spark import registry
from go_mailio_diskusage_handler_spark.operators import dedup
from go_mailio_diskusage_handler_spark.sources.tables import load_table

from conftest import SF_CORRECT, compare_with_oracle

ORACLE_CHECKED = [
    "text_zipf_slope",
    "text_bm25_topk",
    "text_datacard",
    "docs_length_histogram",
    "text_token_stats",
    "text_quality_scores",
    "text_language_id",
    "text_fingerprints",
    "text_unigram_logprob",
    "text_language_ngram",
    "text_repetition",
    "text_ngram_topk",
    "text_tfidf_topterms",
    "dedup_exact",
    "dedup_eval_pr",
    "dedup_normalized",
    "dedup_minhash",
    "dedup_incremental_minhash",
    "dedup_ngram_jaccard",
    "dedup_ngram_containment",
    "dedup_simhash_values",
    "dedup_simhash_pairs",
    "dedup_pair_editdist",
    "dedup_clusters",
    "curation_split_assign",
    "curation_sample_weighted",
    "curation_mixture",
    "curation_contaminated",
    "curation_pack_sequences",
    "curation_corpus",
    "curation_keep_best",
    "text_pii",
    "dedup_span_coverage",
    "dedup_span_trim",
    "dedup_weighted_jaccard",
    "curation_temperature_mix",
    "curation_epoch_repeat",
    "curation_stratified_split",
    "curation_bloom_decontam",
    "text_chunks",
    "curation_quality_gate",
    "dedup_prefix_jaccard",
    "text_tfidf_cosine_pairs",
    "dedup_triangles",
    "curation_shard_manifest",
    "dedup_minhash_estimate",
    "curation_dedup_report",
    "text_lang_confusion",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


def test_dedup_report_oracle_counts_null_text_group(spark, tmp_path):
    """The fixtures carry no NULL text, so the oracle sweep cannot see
    whether both engines count the NULL-text rows as one content group.
    Run the registered query and its oracle over a corpus that has
    two NULL-text rows next to an exact-duplicate pair."""
    import duckdb

    path = tmp_path / "documents.parquet"
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * FROM (VALUES
                (1::BIGINT, NULL::VARCHAR, 'en', 's', 0::BIGINT),
                (2, NULL, 'en', 's', 0),
                (3, 'alpha beta gamma delta epsilon', 'en', 's', 30),
                (4, 'alpha beta gamma delta epsilon', 'en', 's', 30),
                (5, 'zeta eta theta iota kappa', 'en', 't', 25))
              AS t(doc_id, text, lang, source, n_chars))
            TO '{path}' (FORMAT PARQUET)"""
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    try:
        compare_with_oracle(
            spark, con, "curation_dedup_report", registry.QUERIES,
            registry.ORACLE_SQL, sf_dir=str(tmp_path),
        )
    finally:
        con.close()


def test_span_coverage_known_values(spark):
    """Hand fixtures: a shared 8-gram covers exactly its 8 tokens in
    each member; identical docs reach coverage 1.0; overlapping
    duplicated grams must UNION (not double-count) positions; docs
    shorter than n have zero grams and zero coverage."""
    from go_mailio_diskusage_handler_spark.operators import dedup as D

    t1 = "a b c d e f g h x y z"
    docs = spark.createDataFrame(
        [
            (1, t1),
            (2, "q r a b c d e f g h"),
            (3, "unique words only here never repeated anywhere at all"),
            (4, "too short"),
            (5, t1),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in D.duplicated_span_coverage(docs).collect()}
    # docs 1 and 5 are identical → every gram duplicated → full cover.
    assert (got[1].covered_tokens, got[1].dup_span_frac) == (11, 1.0)
    assert (got[5].covered_tokens, got[5].dup_span_frac) == (11, 1.0)
    # doc 2 shares exactly one 8-gram ("a..h", its positions 3-10).
    assert (got[2].covered_tokens, got[2].dup_span_frac) == (8, 0.8)
    assert (got[3].covered_tokens, got[3].dup_span_frac) == (0, 0.0)
    assert (got[4].n_words, got[4].covered_tokens) == (2, 0)


def test_pii_signals_known_values(spark):
    """Hand fixtures for every PII class, plus the overlap traps the
    redaction order exists for: a phone number must redact as ONE
    <PHONE>, not be half-eaten by the generic digit-run rule, and an
    IP inside an email's domain must stay inside the <EMAIL>."""
    import hashlib

    from go_mailio_diskusage_handler_spark.operators import text as T

    docs = spark.createDataFrame(
        [
            (1, "reach me at bob.smith+x@corp.example.org thanks"),
            (2, "server 192.168.1.254 and 10.0.0.1 are down"),
            (3, "call 555-123-4567 re account 123456789"),
            (4, "clean text no pii at all"),
            (5, "short digits 12345678 are not an id"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in T.pii_signals(docs).collect()}
    assert (got[1].n_emails, got[1].n_pii) == (1, 1)
    assert (got[2].n_ipv4, got[2].n_pii) == (2, 2)
    assert (got[3].n_phones, got[3].n_id_runs, got[3].n_pii) == (1, 1, 2)
    assert got[4].n_pii == 0 and got[5].n_pii == 0
    exp = {
        1: "reach me at <EMAIL> thanks",
        2: "server <IP> and <IP> are down",
        3: "call <PHONE> re account <ID>",
        4: "clean text no pii at all",
        5: "short digits 12345678 are not an id",
    }
    for i, red in exp.items():
        assert got[i].redacted_sha == hashlib.sha256(red.encode()).hexdigest()


def test_repetition_signals_known_values(spark):
    """Hand-computed fixtures: 'a a a a' has bigrams [aa,aa,aa] →
    dup fraction 2/3 and total top-word dominance; a no-repeat doc
    scores 0; a 1-word doc must NOT fabricate a phantom bigram from
    Spark's descending-sequence inference."""
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),
            (2, "w x y z"),
            (3, "solo"),
            (4, "p q p q p"),
        ],
        "doc_id long, text string",
    )
    from go_mailio_diskusage_handler_spark.operators import text as T

    got = {r.doc_id: r for r in T.repetition_signals(docs).collect()}
    assert (got[1].dup_bigram_frac, got[1].top_word_frac) == (0.6667, 1.0)
    assert (got[2].dup_bigram_frac, got[2].top_word_frac) == (0.0, 0.25)
    assert (got[3].n_words, got[3].dup_bigram_frac, got[3].top_word_frac) == (
        1, 0.0, 1.0,
    )
    # 'p q p q p': bigrams [pq,qp,pq,qp] → 2 distinct of 4 → 0.5.
    assert (got[4].dup_bigram_frac, got[4].top_word_frac) == (0.5, 0.6)


def test_incremental_minhash_matches_full_restriction(spark):
    """The incremental invariant: probing the stored band index with
    only the new batch must yield exactly the full-corpus pair set
    restricted to pairs whose newer side is in the batch — re-running
    the full dedup after an incremental ingest finds nothing new.  A
    batch that starts at doc 0 is the whole corpus, so its pairs are
    exactly the full dedup's: both run the one band join."""
    docs = load_table(spark, SF_CORRECT, "documents")
    full = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_dedup_pairs(docs, 0.8).collect()
    }
    incr = {
        (r.doc_a, r.doc_b)
        for r in dedup.incremental_minhash_pairs(docs, 400).collect()
    }
    assert incr == {(a, b) for a, b in full if b >= 400}
    assert incr, "batch boundary produced an empty incremental set"
    whole = {
        (r.doc_a, r.doc_b)
        for r in dedup.incremental_minhash_pairs(docs, 0).collect()
    }
    assert whole == full


def test_minhash_lsh_recall_vs_exact(spark):
    """Every exact-Jaccard ≥ 0.8 pair must be FOUND by the MinHash-LSH
    path (candidate recall at high similarity).  With 4 bands × 3 rows,
    P(miss | j=0.8) = (1-0.8^3)^4 ≈ 5.6%/pair — the fixture's pairs sit
    at j≈0.95+ where P(miss) < 0.2%, so exact coverage is expected."""
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, 0.9).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b) for r in dedup.minhash_dedup_pairs(docs, 0.9).collect()
    }
    assert exact, "fixture should contain near-duplicate pairs"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 20), f"LSH missed {missed}"


def test_simhash_symmetric_and_bounded(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    rows = dedup.simhash_values(docs).collect()
    assert all(0 <= r.simhash < (1 << dedup.SIMHASH_BITS) for r in rows)


def test_split_assignment_is_stable_and_roughly_proportional(spark):
    """Split membership is a pure function of doc_id (identical under
    re-run and repartition) and lands near the 90/5/5 target."""
    from go_mailio_diskusage_handler_spark.operators import curation

    docs = load_table(spark, SF_CORRECT, "documents")
    a = {r.doc_id: r.split for r in curation.split_assignments(docs).collect()}
    b = {
        r.doc_id: r.split
        for r in curation.split_assignments(docs.repartition(7)).collect()
    }
    assert a == b
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.80 * n <= train <= 0.97 * n


def test_mixture_rebalance_caps_every_source(spark):
    from go_mailio_diskusage_handler_spark.operators import curation

    docs = load_table(spark, SF_CORRECT, "documents")
    kept = curation.mixture_rebalance(docs, 7).groupBy("source").count().collect()
    assert kept and all(r["count"] <= 7 for r in kept)


def test_mixture_skew_guard_bounds_window_input(spark):
    """Under a 10×-skewed source the guard must (a) leave the selected
    rows bit-identical to the unguarded exact window, and (b) bound
    the rows entering the window to O(cap) per source — not O(source).
    The bound is checked against the guard's own cutoff semantics:
    docs at or below the source's cap-th hash value."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark import plans
    from go_mailio_diskusage_handler_spark.operators import curation

    # One source 10× the rest combined: 5000 docs vs 3 × ~170.
    rows = [(i, "big") for i in range(5000)] + [
        (10_000 + i, f"small{i % 3}") for i in range(500)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    cap = 10
    guarded = curation.mixture_rebalance(docs, cap)
    plain = curation.mixture_rebalance(docs, cap, skew_guard=False)
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # The guard's pre-filter keeps only docs with hash <= the cap-th
    # smallest hash of their source; replicate that count and assert
    # it is O(cap) — the window input under the guard, vs 5000 rows
    # ungarded for the big source.
    hashed = docs.select(
        "source", F.expr(curation._BUCKET_SQL).cast("long").alias("h")
    )
    big = sorted(r.h for r in hashed.filter(F.col("source") == "big").collect())
    cutoff = big[cap - 1]
    survivors = sum(1 for h in big if h <= cutoff)
    assert survivors <= 5 * cap, survivors
    # The cutoff map is a literal in the plan — the guarded window must
    # cost the SAME shuffles as the plain one, with no join node.
    # (Fresh frames: AQE's post-action final plan double-prints
    # materialized exchanges, so never count on a collected frame.)
    g2 = curation.mixture_rebalance(docs, cap)
    p2 = curation.mixture_rebalance(docs, cap, skew_guard=False)
    assert plans.shuffle_count(g2) == plans.shuffle_count(p2) == 1
    assert "Join" not in plans.executed_plan(g2)


def test_curation_plan_shapes(spark):
    """Split assignment must stay narrow (zero shuffles — pure
    per-row hash), mixture rebalance must cost exactly one shuffle
    (the window on source), and decontamination must broadcast the
    eval side instead of shuffling the train side."""
    from go_mailio_diskusage_handler_spark import plans
    from go_mailio_diskusage_handler_spark.operators import curation

    docs = load_table(spark, SF_CORRECT, "documents")
    assert plans.shuffle_count(curation.split_assignments(docs)) == 0
    # The exact window itself is ONE shuffle; the skew guard adds only
    # bounded-cardinality histogram aggregates (≤ 65 536 rows/source),
    # asserted separately in test_mixture_skew_guard_bounds_window_input.
    assert (
        plans.shuffle_count(curation.mixture_rebalance(docs, 10, skew_guard=False))
        == 1
    )
    assert plans.has_broadcast_join(curation.contaminated_docs(docs))


def test_shingle_df_cap_is_broadcast_anti_join(spark):
    """The cap must not shuffle the corpus-side shingle table: the
    heavy-hitter set is broadcast and anti-joined (at 100 TB a
    shuffled anti-join on the raw shingle strings would itself be the
    skew bottleneck the cap exists to remove)."""
    from go_mailio_diskusage_handler_spark import plans
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT, "documents")
    capped = dedup.cap_shingle_df(dedup.shingles(docs), 1000)
    plan = plans.executed_plan(capped)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_connected_components_chain_converges_logarithmically(spark):
    """Pointer-doubling bound: a 64-node chain (diameter 63) must
    converge in O(log n) rounds — plain min-label propagation would
    need ~63.  Also pins correctness: every node labels to node 0."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    labels, rounds = dedup.connected_components(pairs, max_iterations=25)
    assert rounds <= 10, f"chain took {rounds} rounds; shortcut not effective"
    got = {r.doc_id: r.cluster_id for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_strict_raises_on_non_convergence(spark):
    """Partially-converged labels are wrong cluster ids; they must be
    refused loudly.  A 4-node chain cannot reach fixpoint
    verification in one round (the convergence check itself needs a
    no-change round), so max_iterations=1 forces the path."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="max_iterations"):
        dedup.connected_components(pairs, max_iterations=1)


def test_duplicate_clusters_are_consistent_with_pairs(spark):
    """Cluster labels must be closed over the pair graph: both ends of
    every near-dup pair carry the same cluster_id, and each cluster's
    label is its smallest member."""
    docs = load_table(spark, SF_CORRECT, "documents")
    pairs = [
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, 0.6).collect()
    ]
    label = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(docs).collect()
    }
    assert pairs and label
    for a, b in pairs:
        assert label[a] == label[b], (a, b)
    by_cluster: dict[int, list[int]] = {}
    for doc, c in label.items():
        by_cluster.setdefault(c, []).append(doc)
    for c, members in by_cluster.items():
        assert c == min(members)


def test_shingle_df_cap_drops_heavy_hitter(spark):
    """A boilerplate shingle present in every document must be excluded
    from candidate generation once its df crosses the cap: documents
    that share ONLY the heavy-hitter produce no pair, while genuinely
    near-duplicate documents still match on their rare shingles."""
    boiler = "terms of service"
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"{boiler} epsilon zeta eta theta"),
            (3, f"{boiler} iota kappa lam mu"),
            (4, f"{boiler} alpha beta gamma delta"),  # true dup of 1
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs_of(
            dedup.cap_shingle_df(dedup.shingles(docs), 3), 0.5
        ).collect()
    }
    assert (1, 4) in pairs, "rare-shingle duplicate lost by the cap"
    assert all(p == (1, 4) for p in pairs), (
        f"heavy-hitter shingle generated spurious pairs: {pairs}"
    )
    # Uncapped, every doc pairs with every other through the boilerplate
    # candidate join (low jaccard filters most, but doc 1/4 remains and
    # the candidate set is quadratic) — the cap is what changed shape.
    capped_sh = dedup.cap_shingle_df(dedup.shingles(docs), 3)
    assert capped_sh.filter(capped_sh.shingle == boiler).count() == 0
    assert dedup.shingles(docs).filter(f"shingle = '{boiler}'").count() == 4


def test_exact_dedup_keeps_min_doc_id(spark):
    """Duplicate groups keep the smallest doc_id; injecting a known
    duplicate exercises a non-trivial group."""
    from go_mailio_diskusage_handler_spark.operators.text import exact_dedup

    docs = load_table(spark, SF_CORRECT, "documents").limit(50)
    dup = docs.limit(1).withColumn("doc_id", docs.doc_id + 100000)

    res = exact_dedup(docs.unionByName(dup)).collect()
    groups = {r.keep_doc_id: r.dup_count for r in res}
    assert 2 in groups.values(), "injected duplicate not grouped"
    dup_group = [r for r in res if r.dup_count == 2][0]
    assert dup_group.keep_doc_id < 100000


def test_top_ngrams_plan_is_topk_with_partial_agg(spark):
    """The corpus n-gram heavy-hitter scan must (a) take its top-k via
    TakeOrderedAndProject (per-partition heaps), never a global Sort,
    and (b) partial-aggregate before its one shuffle so the exchange
    is vocabulary-bounded, not corpus-bounded."""
    from go_mailio_diskusage_handler_spark import plans
    from go_mailio_diskusage_handler_spark.operators import text

    df = text.top_ngrams(load_table(spark, SF_CORRECT, "documents"))
    plan = plans.executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plans.shuffle_count(df) == 1, plan
    assert "partial_count" in plan or "HashAggregate" in plan, plan


def test_containment_is_directional_where_jaccard_is_blind(spark):
    """A short fragment quoted inside a long document: containment
    from the fragment side must be 1.0 while Jaccard stays under any
    useful threshold, and the long→short direction must NOT fire."""
    frag = "alpha beta gamma delta"
    long_doc = frag + " " + " ".join(f"w{i} x{i} y{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, frag), (2, long_doc), (3, "totally unrelated words here")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_src, r.doc_dst): r.containment
        for r in dedup.ngram_containment_pairs(docs, 0.8).collect()
    }
    assert got.get((1, 2)) == 1.0, got
    assert (2, 1) not in got, got
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, 0.0).collect()
    }
    assert jac[(1, 2)] < 0.1, jac


def test_normalized_dedup_collapses_reformatted_duplicates(spark):
    """'Hello,  WORLD!' and 'hello world' must hash together after
    normalization (raw exact dedup keeps them apart); distinct
    content stays distinct."""
    from go_mailio_diskusage_handler_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "Hello,  WORLD!"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    norm = {r.keep_doc_id: r.dup_count for r in T.normalized_exact_dedup(docs).collect()}
    assert norm == {1: 2, 3: 1}
    raw = T.exact_dedup(docs)
    assert raw.count() == 3


def test_keep_best_prefers_longest_member(spark):
    """Within a duplicate cluster the longest document wins (ties to
    the smallest doc_id) — not simply the smallest id."""
    from go_mailio_diskusage_handler_spark.operators import curation

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base, len(base)),
            (2, base + " extra tail words", len(base) + 17),
            (3, "unrelated totally different content here", 40),
        ],
        "doc_id long, text string, n_chars long",
    )
    got = {
        r.cluster_id: (r.keep_doc_id, r.n_members)
        for r in curation.keep_best_per_cluster(docs).collect()
    }
    assert got == {1: (2, 2)}, got  # doc 2 is longer → keeper, despite id 1


def test_temperature_sample_flattens_sources(spark):
    """alpha=1/2 invariants: the smallest source is kept whole
    (rate 1.0), larger sources keep ~sqrt(n_min/n_s), and the KEPT
    distribution's big/small ratio shrinks from n_big/n_small toward
    sqrt(n_big/n_small) (flattening, not equalizing)."""
    import math

    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import curation as C
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    from conftest import SF_CORRECT

    d = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 8, F.lit("big"))
        .otherwise(F.lit("small"))
        .alias("source"),
    )
    pre = {r["source"]: r["n"] for r in
           d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    kept = C.temperature_sample(d).collect()
    post: dict[str, int] = {}
    rates: dict[str, float] = {}
    for r in kept:
        post[r.source] = post.get(r.source, 0) + 1
        rates[r.source] = r.keep_rate
    assert rates["small"] == 1.0 and post["small"] == pre["small"]
    want = math.sqrt(pre["small"] / pre["big"])
    assert abs(rates["big"] - round(math.floor(want * 65536) / 65536, 6)) < 1e-9
    # Realized keep fraction tracks the rate within md5-bucket noise.
    frac = post["big"] / pre["big"]
    assert abs(frac - want) < 0.1, (frac, want)
    assert post["big"] / post["small"] < pre["big"] / pre["small"]


def test_bloom_prefilter_is_lossless_and_selective(spark):
    """The bloom variant must (a) return EXACTLY the exact operator's
    result — false positives are cleared by the exact join and false
    negatives are impossible — and (b) actually drop a material share
    of train shingles at the scan (the thing the bitmap buys)."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import curation as C
    from go_mailio_diskusage_handler_spark.operators.dedup import shingles

    docs = load_table(spark, SF_CORRECT, "documents")
    exact = {
        (r.doc_id, r.max_overlap, r.n_eval_docs)
        for r in C.contaminated_docs(docs).collect()
    }
    bloom = {
        (r.doc_id, r.max_overlap, r.n_eval_docs)
        for r in C.bloom_prefiltered_contamination(docs).collect()
    }
    assert bloom == exact and exact
    # Selectivity, measured at the prefilter stage itself: with a
    # tiny build side (5 eval docs) most train shingles must fail the
    # membership probe — and every TRUE member must survive.
    sh = shingles(docs)
    ev = sh.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("eval_doc_id"), "shingle"
    )
    train = sh.filter(F.col("doc_id") >= 5)
    survived = C.bloom_shingle_filter(train, ev)
    n_train, n_surv = train.count(), survived.count()
    assert n_surv < n_train * 0.5, (n_surv, n_train)
    true_hits = train.join(
        ev.select("shingle").distinct(), "shingle"
    ).count()
    kept_hits = survived.join(
        ev.select("shingle").distinct(), "shingle"
    ).count()
    assert kept_hits == true_hits  # no false negatives


def test_chunking_known_values(spark):
    """Hand fixture at window=4, stride=3: 10 tokens chunk as
    [1-4], [4-7], [7-10], [10] — overlap of 1, trailing singleton;
    a short doc yields exactly one short chunk."""
    import hashlib

    from go_mailio_diskusage_handler_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "x y")],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.chunk_id, r.start_tok, r.n_tokens, r.chunk_sha)
        for r in T.chunk_documents(docs, window=4, stride=3).collect()
    )
    sha = lambda t: hashlib.sha256(t.encode()).hexdigest()  # noqa: E731
    assert got == [
        (1, 1, 1, 4, sha("a b c d")),
        (1, 2, 4, 4, sha("d e f g")),
        (1, 3, 7, 4, sha("g h i j")),
        (1, 4, 10, 1, sha("j")),
        (2, 1, 1, 2, sha("x y")),
    ]


def test_adaptive_quality_gate_tie_and_quantile_semantics(spark):
    """Hand fixture: per-source cume_dist > 0.25 with a TIE straddling
    the boundary — all tied rows share one cume_dist, so either the
    whole tie group survives or none of it does; and a clean source is
    gated independently of a dirty one (the point of per-source
    thresholds)."""
    from go_mailio_diskusage_handler_spark.operators import curation as C

    rows = []
    # Source A: 4 docs, scores .25 .5 .75 1.0 → cume_dist .25 .5 .75 1
    # → the worst doc (cd=0.25, not > 0.25) is dropped.
    rows += [(1, "a", "x x x x"), (2, "a", "x x y y"),
             (3, "a", "x x y z"), (4, "a", "x y z w")]
    # Source B: 4 docs all scoring 1.0 → one tie group, cume_dist 1.0
    # for every row → ALL kept (a global gate would still drop 25%).
    rows += [(10 + i, "b", t) for i, t in
             enumerate(["p q r s", "t u v w", "c d e f", "g h i j"])]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    kept = {(r.doc_id, r.source) for r in C.adaptive_quality_gate(docs).collect()}
    assert (1, "a") not in kept
    assert {(2, "a"), (3, "a"), (4, "a")} <= kept
    assert {(10, "b"), (11, "b"), (12, "b"), (13, "b")} <= kept


def test_prefix_filter_is_lossless_and_prunes_candidates(spark):
    """The prefix index must find EXACTLY the pairs the full
    shared-shingle self-join finds at the same threshold (the
    All-Pairs losslessness guarantee), while generating materially
    fewer candidate pairs than the full join."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import dedup as D

    docs = load_table(spark, SF_CORRECT, "documents")
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.jaccard_pairs_of(D.shingles(docs), 0.6).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in D.prefix_filter_jaccard_pairs(docs, 0.6).collect()
    }
    spark.catalog.clearCache()
    assert got == full and full
    # Candidate-pruning: prefix self-join pairs << full self-join pairs.
    sh = D.shingles(docs)
    full_cand = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select("x.doc_id", "y.doc_id")
        .distinct()
        .count()
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    nw = Window.partitionBy("doc_id")
    ranked = sh.join(freq, "shingle").select(
        "doc_id", "shingle",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(nw).alias("n"),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.expr("n - ((3 * n + 4) div 5) + 1")
    )
    pref_cand = (
        prefix.alias("x")
        .join(
            prefix.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select("x.doc_id", "y.doc_id")
        .distinct()
        .count()
    )
    assert pref_cand < full_cand * 0.5, (pref_cand, full_cand)


def test_tfidf_cosine_weights_rare_terms(spark):
    """The weighting property that distinguishes this tier from
    Jaccard: a pair sharing a RARE term outscores a pair sharing only
    corpus-common vocabulary; identical docs score 1.0; docs whose
    every term is zero-idf (present in all docs) are dropped, not
    emitted as NaN."""
    from go_mailio_diskusage_handler_spark.operators import text as T

    rows = [
        (1, "rareword filler alpha"),
        (2, "rareword filler beta"),
        (3, "filler gamma delta"),
        (4, "filler gamma epsilon"),
        (5, "filler filler filler"),  # every term in all docs → dropped
    ]
    # 'filler' appears in all 5 docs → idf 0; 'gamma' in 2; 'rareword'
    # in 2.  Pair (1,2) and (3,4) both share one df=2 term plus
    # zero-weight filler → equal cosine by symmetry; doc 5 must not
    # pair with anything (zero norm).
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.cos_tfidf
        for r in T.tfidf_cosine_pairs(docs, threshold=0.0).collect()
    }
    assert all(5 not in pair for pair in got)
    assert got[(1, 2)] == got[(3, 4)] > 0
    # Identical docs → cosine exactly 1.
    docs2 = spark.createDataFrame(
        [(1, "x y z unique"), (2, "x y z unique"), (3, "other words here now")],
        "doc_id long, text string",
    )
    got2 = {
        (r.doc_a, r.doc_b): r.cos_tfidf
        for r in T.tfidf_cosine_pairs(docs2, threshold=0.0).collect()
    }
    assert got2[(1, 2)] == 1.0


def test_event_transitions_probabilities_normalize(spark):
    """Each from-state's outgoing probabilities sum to ~1, counts are
    positive, and the matrix covers every observed from-state."""
    from go_mailio_diskusage_handler_spark.operators import sessions as S

    ev = load_table(spark, SF_CORRECT, "events")
    rows = S.event_transitions(ev).collect()
    assert rows
    by_from: dict[str, float] = {}
    for r in rows:
        assert r.n_trans > 0
        by_from[r.event_type] = by_from.get(r.event_type, 0.0) + r.p_next
    for src, tot in by_from.items():
        assert abs(tot - 1.0) < 0.01, (src, tot)


def test_new_narrow_ops_are_shuffle_free(spark):
    """text_pii, text_chunks, and scalar_zorder_keys are scan-level
    projections/explodes — zero exchanges in the plan."""
    from go_mailio_diskusage_handler_spark import plans

    for name in ("text_pii", "text_chunks", "scalar_zorder_keys"):
        df = registry.QUERIES[name](spark, SF_CORRECT)
        assert plans.shuffle_count(df) == 0, name


def test_quality_gate_result_plan_has_no_window(spark):
    """The adaptive gate's RESULT plan must be a pure filtered scan:
    the quantile window ran only inside the bounded-histogram cutoff
    job, never over the corpus."""
    from go_mailio_diskusage_handler_spark import plans

    df = registry.QUERIES["curation_quality_gate"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "Window" not in plan, plan
    assert plans.shuffle_count(df) == 0, plan


def test_triangles_find_cliques_not_pairs(spark):
    """A 3-clique of identical docs yields exactly one canonical
    triangle; an isolated duplicate PAIR yields none; a 4-clique
    yields C(4,3)=4 — and each triangle appears exactly once (the
    acyclic degree orientation, not a distinct pass, dedups)."""
    from go_mailio_diskusage_handler_spark.operators import dedup as D

    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight"
    t3 = "red orange yellow green blue indigo violet ultra"
    rows = [(1, t1), (2, t1), (3, t1), (10, t2), (11, t2)]
    rows += [(20 + i, t3) for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tri = sorted(
        (r.doc_a, r.doc_b, r.doc_c)
        for r in D.near_dup_triangles(docs).collect()
    )
    assert tri == [
        (1, 2, 3),
        (20, 21, 22), (20, 21, 23), (20, 22, 23), (21, 22, 23),
    ]


def test_shard_manifest_is_partition_invariant_and_drift_sensitive(spark):
    """The checksum triple must be identical under any repartitioning
    (commutative sum) and must CHANGE when one document is dropped —
    the property that makes manifest comparison a corpus-equality
    proof."""
    from go_mailio_diskusage_handler_spark.operators import curation as C

    docs = load_table(spark, SF_CORRECT, "documents")
    a = {r.shard_id: (r.n_docs, r.total_tokens, r.content_checksum)
         for r in C.shard_manifest(docs).collect()}
    b = {r.shard_id: (r.n_docs, r.total_tokens, r.content_checksum)
         for r in C.shard_manifest(docs.repartition(13)).collect()}
    assert a == b
    dropped = {r.shard_id: (r.n_docs, r.total_tokens, r.content_checksum)
               for r in C.shard_manifest(docs.filter("doc_id != 7")).collect()}
    assert dropped != a
    diff = [s for s in a if a[s] != dropped.get(s)]
    assert len(diff) == 1  # exactly doc 7's shard changed


def test_minhash_estimator_error_envelope(spark):
    """Measured |est - exact| must sit inside the binomial stderr
    envelope for K=12 signatures (≤ ~3σ ≈ 0.45 worst-case at j=0.5,
    and mean error well under 1σ ≈ 0.14): the calibration claim the
    operator's docstring makes."""
    from go_mailio_diskusage_handler_spark.operators import dedup as D

    rows = D.minhash_estimate_quality(
        load_table(spark, SF_CORRECT, "documents")
    ).collect()
    spark.catalog.clearCache()
    assert rows
    errs = [r.abs_err for r in rows]
    assert max(errs) <= 0.45, max(errs)
    assert sum(errs) / len(errs) <= 0.14, sum(errs) / len(errs)


def test_new_ops_handle_empty_input(spark):
    """Empty-corpus contract: temperature sampling returns a
    schema-stable empty frame; the quality gate, span coverage, PII
    scan, chunking, and shard manifest return empty without error;
    k-means raises a CLEAR seeding error instead of a null cascade."""
    import pytest

    from go_mailio_diskusage_handler_spark.operators import (
        curation as C,
        dedup as D,
        text as T,
    )
    from go_mailio_diskusage_handler_spark.operators.similarity import (
        kmeans_train,
    )

    empty = spark.createDataFrame(
        [], "doc_id long, text string, source string"
    )
    assert C.temperature_sample(empty).count() == 0
    assert C.adaptive_quality_gate(empty).count() == 0
    assert C.shard_manifest(empty).count() == 0
    assert D.duplicated_span_coverage(empty).count() == 0
    assert T.pii_signals(empty).count() == 0
    assert T.chunk_documents(empty).count() == 0
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="k-means init"):
        kmeans_train(empty_emb)


def test_bm25_probe_side_broadcasts(spark):
    """The postings⋈query-terms and postings⋈df joins must broadcast
    the bounded side (query terms / vocabulary df) — the corpus-sized
    postings table must never shuffle for a join; its only exchanges
    are its own aggregations."""
    from go_mailio_diskusage_handler_spark import plans
    from go_mailio_diskusage_handler_spark.operators import text as T
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    df = T.bm25_topk(load_table(spark, SF_CORRECT, "documents"))
    plan = plans.executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_semantic_decontam_is_broadcast_scan(spark):
    """Eval set broadcast, corpus scanned once: zero shuffle before
    the final per-vector aggregate (exactly one exchange total)."""
    from go_mailio_diskusage_handler_spark import plans
    from go_mailio_diskusage_handler_spark.operators import similarity as S
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    df = S.semantic_decontam(load_table(spark, SF_CORRECT, "embeddings"))
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # widen_for_compute may add its round-robin rebalance; beyond that
    # the only exchange is the groupBy(vec_id) aggregate.
    assert plans.shuffle_count(df) <= 2, plan


def test_stratified_split_skew_guard_is_output_invariant(spark):
    """Under a 10×-skewed source the histogram fence must (a) label
    rows bit-identically to the unguarded corpus-window form, and (b)
    admit only ~quota + one-hash-tie-group rows per source into the
    rank window."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.operators import curation

    rows = [(i, "big") for i in range(5000)] + [
        (10_000 + i, f"small{i % 3}") for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    guarded = curation.stratified_split(docs)
    plain = curation.stratified_split(docs, skew_guard=False)
    assert sorted(map(tuple, guarded.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # replicate the fence arithmetic: rows entering the window are the
    # docs at or below the big source's quota-th hash
    hashed = docs.filter(F.col("source") == "big").select(
        F.expr(curation._BUCKET_SQL).cast("long").alias("h")
    )
    hs = sorted(r.h for r in hashed.collect())
    quota = (5000 * 1000 + 9999) // 10000  # ceil(10%)
    cutoff = hs[quota - 1]
    survivors = sum(1 for h in hs if h <= cutoff)
    assert survivors <= 2 * quota, survivors


def test_span_trim_removes_exactly_the_shared_gram(spark):
    """Round-7 rewrite tier: tokens covered by a cross-doc 8-gram are
    deleted; untouched docs round-trip verbatim; counts reconcile."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    rows = [
        (0, f"a0 a1 a2 {shared} a3 a4"),
        (1, f"b0 {shared} b1 b2 b3 b4"),
        (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
        (3, "tiny doc"),  # < n tokens: no grams, kept whole
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r for r in dedup.trim_duplicated_spans(docs, n=8).collect()
    }
    assert got[0].trimmed_text == "a0 a1 a2 a3 a4"
    assert got[1].trimmed_text == "b0 b1 b2 b3 b4"
    assert got[2].trimmed_text == rows[2][1]
    assert got[3].trimmed_text == "tiny doc"
    for r in got.values():
        assert r.kept_tokens + r.removed_tokens == r.n_words
    assert got[0].removed_tokens == got[1].removed_tokens == 8


def test_span_trim_fully_duplicated_doc_empties(spark):
    text = "d1 d2 d3 d4 d5 d6 d7 d8"
    docs = spark.createDataFrame(
        [(0, text), (1, text)], "doc_id long, text string"
    )
    out = dedup.trim_duplicated_spans(docs, n=8).collect()
    assert all(r.trimmed_text == "" and r.kept_tokens == 0 for r in out)


def test_weighted_jaccard_discounts_boilerplate(spark):
    """IDF weighting: a pair sharing RARE shingles scores ~1; a pair
    whose entire overlap is corpus-universal weighs 0 and is filtered
    (zero-denominator guard), not reported as a perfect match —
    exactly the inversion of unweighted Jaccard's verdict."""
    univ = "u1 u2 u3"
    rows = [
        (0, f"r1 r2 r3 r4 {univ}"),
        (1, f"r1 r2 r3 r4 {univ}"),
        (2, univ),
        (3, univ),
        (4, f"q1 q2 q3 q4 {univ}"),
        (5, f"z1 z2 z3 z4 {univ}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.w_jaccard
        for r in dedup.weighted_jaccard_pairs(docs, 0.5).collect()
    }
    assert pairs.get((0, 1)) == 1.0
    assert (2, 3) not in pairs  # universal-only overlap: weight 0
    assert all(k == (0, 1) for k in pairs)


def test_weighted_jaccard_matches_manual_math(spark):
    """Hand-check the score on an asymmetric overlap (no boilerplate):
    w(s) = ln(N/df) summed over intersection / union."""
    import math

    rows = [
        (0, "a b c d e"),
        (1, "a b c x y"),
        (2, "p q r s t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b): r.w_jaccard
        for r in dedup.weighted_jaccard_pairs(docs, 0.01).collect()
    }
    # doc0 shingles: abc bcd cde; doc1: abc bcx cxy; shared: abc (df=2)
    n = 3
    w_df2, w_df1 = math.log(n / 2), math.log(n / 1)
    expect = round(w_df2 / (w_df2 + 4 * w_df1), 4)
    assert out == {(0, 1): expect}
