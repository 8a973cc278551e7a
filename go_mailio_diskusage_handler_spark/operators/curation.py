"""[EXT] Training-data curation: deterministic splits, mixture
rebalancing, and eval-set decontamination.

The three operations every large-scale training-data pipeline runs
between "raw corpus" and "training shards", expressed so the same
row is selected on ANY engine and at ANY scale:

* **Hash-bucket splits** — train/val/test membership must be a pure
  function of the stable document id, never of row order, partition
  layout, or an RNG seed: re-running the pipeline after adding data
  must not migrate old docs between splits (that leaks eval into
  train).  md5-nibble buckets give a uniform 16-bit hash both Spark
  and DuckDB compute bit-identically.
* **Mixture rebalancing** — cap each source's contribution with a
  hash-ranked window, so "which docs survive" is deterministic and
  the selection is a single shuffle on source (the window partition
  key), not a driver-side loop over sources.
* **Decontamination** — drop training docs sharing ≥ K word-trigram
  shingles with any eval-set doc; the join is shingle-keyed (the
  same inverted-index shape as the n-gram dedup tier), so cost
  scales with shared-shingle pairs, never |train| × |eval|.

At 100 TB: all three are one scan + ≤ 1 shuffle; the hash bucket is
also the natural shard key for writing train splits out.

Storage contract: operators that ``persist`` an intermediate (the
capped shingle table that :func:`contaminated_docs` and
:func:`curated_corpus` build) tie its lifetime to the RETURNED frame
via :func:`go_mailio_diskusage_handler_spark.caching.own_cache` — when
the consumer drops the result, the cache blocks release automatically;
a held handle keeps them warm for re-execution.  The cores that take a
shingle table as an argument (:func:`contamination_of`,
``dedup.jaccard_pairs_of``) persist nothing: whoever built the table
owns it.  No ``clearCache`` discipline is required of callers
(bench.py still clears per query, which is harmlessly redundant).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window, functions as F

from go_mailio_diskusage_handler_spark.caching import own_cache
from go_mailio_diskusage_handler_spark.operators.dedup import (
    capped_shingles,
    connected_components,
    duplicate_clusters,
    jaccard_pairs_of,
    ngram_jaccard_pairs,
    novelty_fraction,
    shingles,
)
from go_mailio_diskusage_handler_spark.operators.text import (
    quality_scores,
    tokens,
    unigram_logprob_scores,
    word_ngrams,
)
from go_mailio_diskusage_handler_spark.sources.tables import widen_for_compute

_HEX = "0123456789abcdef"

# bucket ∈ [0, 65536): first 4 md5 nibbles of the stringified doc_id.
# Built from per-nibble strpos/instr lookups (not conv/strtol) because
# both engines have exactly these primitives; codegen CSEs the repeated
# md5 call.
_BUCKET_SQL = " + ".join(
    f"(instr('{_HEX}', substring(md5(cast(doc_id as string)), {k + 1}, 1)) - 1)"
    f" * {16 ** (3 - k)}"
    for k in range(4)
)

TRAIN_PCT = 90
VAL_PCT = 5  # test gets the remainder


def split_assignments(documents: DataFrame) -> DataFrame:
    """doc_id → (bucket, split): 90/5/5 train/val/test on bucket%100.

    Narrow (no shuffle, no Python): membership survives reruns,
    backfills, and repartitioning because it depends only on doc_id.
    """
    pct = F.expr(_BUCKET_SQL) % 100
    return documents.select(
        "doc_id",
        F.expr(_BUCKET_SQL).cast("long").alias("bucket"),
        F.when(pct < TRAIN_PCT, F.lit("train"))
        .when(pct < TRAIN_PCT + VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def mixture_rebalance(
    documents: DataFrame,
    per_source_cap: int = 10,
    *,
    skew_guard: bool = True,
) -> DataFrame:
    """Keep at most ``per_source_cap`` docs per source, chosen by hash
    rank (doc_id tie-break) — downsampling over-represented sources to
    a target mixture without an RNG.

    The exact selection is a window on source — and a skewed source is
    the classic hazard at scale: a 10⁹-doc source lands in ONE window
    partition and sorts 10⁹ rows on a single task.  ``skew_guard``
    (default on) bounds the window's input per source BEFORE the
    shuffle with a per-source hash-quantile cutoff:

    * The hash has a bounded domain (65 536 buckets), so instead of
      ``approx_percentile`` (whose per-source fraction would need to
      be a foldable literal — it can't vary by group) the cutoff is an
      EXACT histogram: count docs per (source, hash), cumulative-sum
      over the ≤ 65 536 histogram rows per source, and take the
      smallest hash whose cumulative count reaches the cap.  The
      histogram aggregate partial-aggregates map-side, so the shuffle
      carries at most |sources|·65 536 pre-combined rows no matter how
      many docs a source has.
    * Every doc whose hash exceeds its source's cutoff cannot be among
      the cap first rows of the (hash, doc_id) window order, so
      filtering to ``hash ≤ cutoff`` is output-invariant; survivors
      per source are ≤ cap − 1 plus one hash tie-group (~n/65 536
      docs) — O(cap), not O(source).
    * Sources smaller than the cap never reach the cutoff (cumulative
      count stays below cap), are absent from the cutoff map, and are
      kept whole.

    Cost: one bounded-size aggregation job whose ≤ |sources|-row
    result rebinds as a map literal (the per-source-quota broadcast),
    making the guard a pure filter expression on the main scan — the
    exact window then runs on O(cap) rows per source with no extra
    join in its plan.
    """
    h = F.expr(_BUCKET_SQL).cast("long")
    base = documents.select("doc_id", "source", h.alias("h"))
    if skew_guard:
        cum_w = (
            Window.partitionBy("source")
            .orderBy("h")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # The cutoff table is ≤ |sources| rows — a low-cardinality
        # dimension by definition — so it collects to the driver and
        # rebinds as a map LITERAL (the per-source-quota broadcast a
        # production mixture job ships), turning the guard into a
        # plain filter expression on the main scan: no join stage, no
        # second plan branch over the corpus.
        cutoff_rows = (
            base.groupBy("source", "h")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("source", "h", F.sum("n").over(cum_w).alias("cum"))
            .filter(F.col("cum") >= per_source_cap)
            .groupBy("source")
            .agg(F.min("h").alias("h_cap"))
            .collect()
        )
        if cutoff_rows:
            caps = F.create_map(
                *[
                    lit
                    for r in cutoff_rows
                    for lit in (F.lit(r["source"]), F.lit(r["h_cap"]))
                ]
            )
            # Sources below the cap never reach a cutoff → absent from
            # the map → NULL lookup → kept whole.
            cap_h = caps[F.col("source")]
            base = base.filter(cap_h.isNull() | (F.col("h") <= cap_h))
    w = Window.partitionBy("source").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    return (
        base.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= per_source_cap)
        .select("doc_id", "source")
    )


EVAL_MAX_DOC_ID = 200  # doc_ids below this are the eval set
MIN_OVERLAP = 3  # shared shingles that mark a training doc contaminated


def _eval_overlaps(train: DataFrame, ev: DataFrame) -> DataFrame:
    """Train docs sharing ≥ ``MIN_OVERLAP`` shingles with some eval doc
    → (doc_id, max_overlap, n_eval_docs).  Inverted-index join: the
    shingle-keyed join counts per (train, eval) pair and keeps any
    train doc crossing the threshold against ANY eval doc.  The eval
    side (eval_doc_id, shingle) is tiny — it is broadcast; the train
    side is never self-joined."""
    overlap = (
        train.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= MIN_OVERLAP)
    )
    return overlap.groupBy("doc_id").agg(
        F.max("n_overlap").alias("max_overlap"),
        F.count(F.lit(1)).alias("n_eval_docs"),
    )


def _eval_split(sh: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The shingle table ``sh`` split at ``EVAL_MAX_DOC_ID`` into its
    train side and its (eval_doc_id, shingle) eval side."""
    ev = sh.filter(F.col("doc_id") < EVAL_MAX_DOC_ID).select(
        F.col("doc_id").alias("eval_doc_id"), "shingle"
    )
    return sh.filter(F.col("doc_id") >= EVAL_MAX_DOC_ID), ev


def contamination_of(sh: DataFrame) -> DataFrame:
    """:func:`_eval_overlaps` over the :func:`_eval_split` of ``sh``."""
    return _eval_overlaps(*_eval_split(sh))


def contaminated_docs(documents: DataFrame) -> DataFrame:
    """Training docs sharing ≥ ``MIN_OVERLAP`` distinct shingles with
    the eval set (doc_id < ``EVAL_MAX_DOC_ID`` stands in for the
    benchmark corpus), over the df-capped shingle table: a stopword
    trigram shared with an eval doc is evidence of nothing, and at
    scale it is also the skew hot key of the shingle join.
    """
    # The capped table feeds BOTH the train and eval sides; persist or
    # the explode→df-aggregate→anti-join chain runs twice.
    sh = capped_shingles(documents)
    return own_cache(contamination_of(sh), sh)


SAMPLE_DEFAULT_RATE = 0.9


def sample_weighted(documents: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Deterministic per-source Bernoulli sampling: keep a document
    iff ``bucket(doc_id)/65536 < rate[source]``, with sources missing
    from ``rates`` sampled at ``SAMPLE_DEFAULT_RATE`` — mixture WEIGHTS as
    probabilities, complementing :func:`mixture_rebalance`'s hard
    per-source caps.

    Same invariants as the hash splits: membership is a pure function
    of (doc_id, rate), so re-runs, backfills, and repartitioning keep
    the same sample, and RAISING a source's rate strictly grows its
    sample (monotone in rate — an epoch-over-epoch mixture adjustment
    never churns previously selected docs out).  Narrow projection,
    zero shuffles, no RNG state; at 100 TB this is a map-side filter
    the Parquet scan streams through.
    """
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for src, r in sorted(rates.items()):
        rate = F.when(F.col("source") == src, F.lit(float(r))).otherwise(rate)
    frac = F.expr(_BUCKET_SQL) / F.lit(65536.0)
    return documents.filter(frac < rate).select("doc_id", "source")


def pack_sequences(documents: DataFrame, max_tokens: int = 512) -> DataFrame:
    """Sequence packing: assign each doc to a fixed-token-budget bin.

    Training shards want documents packed end-to-end into max-length
    context windows.  Exact bin packing is inherently sequential; the
    scalable deterministic relaxation used here: per source, lay docs
    end-to-end in doc_id order and bin by start offset —
    ``bin = floor(start_offset / max_tokens)``.  One window pass, one
    shuffle on the partition key; same row → same bin on any engine,
    any partition layout, any scale.  Docs longer than the budget
    still get a bin (they'd be split downstream at tensorization).
    """
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n_tok = F.size(tokens())
    start = F.coalesce(F.sum(n_tok).over(w), F.lit(0))
    return documents.select(
        "doc_id",
        "source",
        n_tok.cast("bigint").alias("n_tokens"),
        F.floor(start / max_tokens).cast("bigint").alias("bin_id"),
    )


CURATED_MIN_DISTINCT_RATIO = 0.4
CURATED_MIN_TOKENS = 20
CURATED_DUP_THRESHOLD = 0.6


def curated_corpus(documents: DataFrame) -> DataFrame:
    """The whole curation pipeline as ONE declarative plan: quality
    gate → eval-set exclusion + decontamination → keep one doc per
    duplicate cluster → assign train/val/test.

    Each stage is the operator defined above / in the dedup module;
    composition is semi/anti joins on doc_id, so Catalyst sees a
    single DAG and shares the documents scan.  This is the query a
    user runs nightly over the raw corpus; everything upstream
    (pair generation, clustering, scoring) exists to feed it.

    Output: (doc_id, source, split) for the surviving corpus.
    """
    # One shingle table feeds decontamination AND pair generation —
    # df-capped ONCE (boilerplate shingles are noise for both consumers
    # and the scale hot key for either join), then persisted so the
    # corpus is exploded/hashed once; at 100 TB this is a written
    # intermediate, same shape.
    sh = capped_shingles(documents)
    quality_ok = (
        quality_scores(documents)
        .filter(
            (F.col("distinct_ratio") >= CURATED_MIN_DISTINCT_RATIO)
            & (F.col("n_tokens") >= CURATED_MIN_TOKENS)
        )
        .select("doc_id")
    )
    contaminated = contamination_of(sh).select("doc_id")
    clusters, _ = connected_components(
        jaccard_pairs_of(sh, CURATED_DUP_THRESHOLD).select("doc_a", "doc_b")
    )
    dup_losers = (
        clusters.filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    kept = (
        documents.filter(F.col("doc_id") >= EVAL_MAX_DOC_ID)
        .join(quality_ok, "doc_id", "semi")
        .join(contaminated, "doc_id", "anti")
        .join(dup_losers, "doc_id", "anti")
        .select("doc_id", "source")
    )
    out = kept.join(split_assignments(documents), "doc_id").select(
        "doc_id", "source", "split"
    )
    return own_cache(out, sh)


def keep_best_per_cluster(documents):
    """Representative selection for near-dup clusters: within each
    duplicate cluster keep the LONGEST document (n_chars, ties to the
    smallest doc_id) — the standard curation heuristic (the longest
    variant usually subsumes its truncated/boilerplate-trimmed
    near-dups; pure min-doc_id keep is arbitrary about content).

    One min-struct aggregation per cluster over (−n_chars, doc_id) —
    the same single-shuffle argmax shape as ``sessions.first_touch``;
    no window sort of cluster members.  Composes
    ``dedup.duplicate_clusters`` (unconverged clusters raise rather
    than silently electing a wrong keeper).
    """
    clusters = duplicate_clusters(documents)
    members = clusters.join(
        documents.select("doc_id", "n_chars"), "doc_id"
    )
    winner = F.min(
        F.struct((-F.col("n_chars")).alias("neg_chars"), F.col("doc_id"))
    ).alias("w")
    return (
        members.groupBy("cluster_id")
        .agg(
            winner,
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "cluster_id",
            F.col("w.doc_id").alias("keep_doc_id"),
            (-F.col("w.neg_chars")).alias("keep_n_chars"),
            "n_members",
        )
    )


TEMPERATURE_SCALE = 1 << 16


def temperature_sample(documents: DataFrame) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-corpus
    standard: sample source s proportionally to p_s^alpha, here
    alpha = 1/2): deterministic hash sampling whose per-source keep
    rate is ``sqrt(n_min / n_s)`` — the rate that realizes q_s ∝
    sqrt(p_s) with the smallest source kept whole, flattening the
    source distribution without an RNG.

    alpha is pinned to 1/2 on purpose: the rate then needs only one
    IEEE-correctly-rounded ``sqrt`` of an exact integer ratio, and the
    cutoff ``floor(rate · 2^16)`` multiplies by a power of two — every
    step bit-exact across engines, so the sample is oracle-checkable.
    (A general-alpha variant would go through ``pow`` and need an
    explicit rounding pin before the floor.)

    Scale shape: one map-side-combined count per source (≤ |sources|
    rows collect to the driver — same bounded-dimension pattern as
    :func:`mixture_rebalance`'s cutoff map), then the keep decision is
    a pure filter expression on the scan (md5-bucket < broadcast map
    literal).  No join, no shuffle, no RNG state.
    """
    import math

    counts = (
        documents.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if not counts:
        # Empty corpus: keep the output contract (schema-stable empty
        # frame) instead of crashing on min() of nothing.
        return documents.select(
            "doc_id", "source", F.lit(1.0).alias("keep_rate")
        ).limit(0)
    n_min = min(r["n"] for r in counts)
    cutoffs = {
        r["source"]: math.floor(math.sqrt(n_min / r["n"]) * TEMPERATURE_SCALE)
        for r in counts
    }
    cap_map = F.create_map(
        *[F.lit(x) for kv in sorted(cutoffs.items()) for x in kv]
    )
    rate_map = F.create_map(
        *[
            F.lit(x)
            for s, c in sorted(cutoffs.items())
            for x in (s, round(c / TEMPERATURE_SCALE, 6))
        ]
    )
    h = F.expr(_BUCKET_SQL).cast("long")
    return (
        documents.select("doc_id", "source")
        .filter(h < cap_map[F.col("source")])
        .select("doc_id", "source", rate_map[F.col("source")].alias("keep_rate"))
    )


BLOOM_M_BITS = 1 << 17
BLOOM_K_HASHES = 5


def bloom_shingle_filter(probe_side: DataFrame, build_side: DataFrame) -> DataFrame:
    """Filter ``probe_side`` to shingles that MIGHT be in
    ``build_side`` via a driver-built Bloom bitmap: BLOOM_K_HASHES
    xxhash64 seeds → bit positions mod ``BLOOM_M_BITS``, OR-folded
    into a long[] literal; membership = AND of k shift-and-mask probes,
    pure codegen expression at the scan.  No false negatives;
    false-positive rate ≈ (1 - e^(-k·n/m))^k."""
    pos = [
        F.pmod(F.xxhash64("shingle", F.lit(seed)), F.lit(BLOOM_M_BITS))
        for seed in range(BLOOM_K_HASHES)
    ]
    bitmap = [0] * (BLOOM_M_BITS // 64)
    rows = (
        build_side.select(F.explode(F.array(*pos)).alias("p"))
        .distinct()
        .collect()
    )
    for r in rows:
        bitmap[r["p"] // 64] |= 1 << (r["p"] % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in bitmap]
    # ONE from_json literal instead of F.lit(list): F.lit on a
    # 2048-element list is 2048 py4j calls of pure driver time per
    # construction (the r15 codebook-literal class, guide §7.3);
    # Catalyst constant-folds JsonToStructs(Literal) so the executed
    # plan carries the identical folded long[] — integers round-trip
    # JSON exactly.
    from .similarity import const_array_lit

    bloom_lit = const_array_lit(words, "bigint")
    member = None
    for seed in range(BLOOM_K_HASHES):
        probe = (
            F.expr(
                f"shiftright(element_at(_bloom, "
                f"CAST(pmod(xxhash64(shingle, {seed}), {BLOOM_M_BITS}) div 64 AS INT) + 1), "
                f"CAST(pmod(xxhash64(shingle, {seed}), {BLOOM_M_BITS}) % 64 AS INT)) & 1"
            )
            == 1
        )
        member = probe if member is None else member & probe
    return (
        probe_side.withColumn("_bloom", bloom_lit)
        .filter(member)
        .drop("_bloom")
    )


def bloom_prefiltered_contamination(documents: DataFrame) -> DataFrame:
    """:func:`contaminated_docs` with a broadcast BLOOM FILTER
    pre-filter on the train side — identical output, different plan.

    Why this exists at 100 TB: the exact path broadcasts the eval
    SHINGLE TABLE (strings) into the join, so every train shingle
    still flows into a join operator.  A Bloom filter over the eval
    shingles is a fixed ``BLOOM_M_BITS/8``-byte bitmap (16 KB here; a few
    MB even for 10⁸ eval shingles) that the Parquet scan can apply as
    a pure per-row expression — the overwhelmingly non-contaminated
    train corpus is dropped AT THE SCAN, and only candidate shingles
    (true hits + ~6% false positives at these parameters) reach the
    exact join that confirms overlap counts.  False positives cannot
    corrupt the output (the exact join re-checks); false negatives
    are impossible (Bloom property), so the result provably equals
    the exact operator's — which is exactly what the oracle asserts.

    Construction: k xxhash64 seeds → bit positions mod m over the
    (tiny) eval side, OR-folded into a long[] bitmap on the driver,
    rebound as ONE array literal; membership = AND over k
    shift-and-mask probes, all inside whole-stage codegen.  (Spark's
    internal ``bloom_filter_agg`` expression isn't registered for SQL
    in this build — and a hand-rolled bitmap keeps the layout
    engine-portable anyway.)
    """
    train, ev = _eval_split(shingles(documents))
    return _eval_overlaps(bloom_shingle_filter(train, ev), ev)


QUALITY_GATE_PCT = 0.25


def adaptive_quality_gate(documents: DataFrame) -> DataFrame:
    """Per-source ADAPTIVE quality filtering: drop each source's worst
    ``QUALITY_GATE_PCT`` tail by quality score (distinct-token ratio — the
    repetition detector from the quality suite) instead of one global
    threshold.  Per-source thresholds are the curation standard: a
    fixed global cutoff over-prunes noisy-but-valuable sources and
    under-prunes clean boilerplate farms.

    Semantics: keep a doc iff ``cume_dist() OVER (PARTITION BY source
    ORDER BY q) > QUALITY_GATE_PCT`` — a pure function of (source, q), which is
    what makes the EXACT quantile computable WITHOUT windowing the
    fact table:

    * scores round to 4 decimals → a ≤ 10 001-value bounded domain;
    * one map-side-combined histogram per (source, q) — the shuffle
      carries at most |sources|·10 001 pre-combined rows regardless of
      corpus size (the same bounded-histogram fence as
      :func:`mixture_rebalance`'s skew guard);
    * the per-source cutoff (min q with cumulative fraction >
      QUALITY_GATE_PCT)
      collects to a ≤ |sources|-row map literal, and the keep decision
      is a scan-level filter expression.  No window touches the
      corpus; a 10⁹-doc source costs the same exchange as a 10³-doc
      one.

    The oracle states the same result as the window form (cume_dist >
    QUALITY_GATE_PCT), asserting the histogram path implements it exactly.
    """
    toks = tokens()
    q = F.round(F.size(F.array_distinct(toks)) / F.size(toks), 4)
    base = documents.select("doc_id", "source", q.alias("q"))
    hist = base.groupBy("source", "q").agg(F.count(F.lit(1)).alias("n"))
    cum_w = (
        Window.partitionBy("source")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_w = Window.partitionBy("source")
    cut_rows = (
        hist.select(
            "source",
            "q",
            (
                F.sum("n").over(cum_w) / F.sum("n").over(tot_w)
            ).alias("cd"),
        )
        .filter(F.col("cd") > QUALITY_GATE_PCT)
        .groupBy("source")
        .agg(F.min("q").alias("q_cut"))
        .collect()
    )
    if not cut_rows:
        # Empty corpus → no cutoffs; an argless create_map() is typed
        # map<void,void> and cannot be probed — return the
        # schema-stable empty frame instead.
        return base.limit(0)
    cut_map = F.create_map(
        *[
            F.lit(x)
            for r in sorted(cut_rows, key=lambda r: r["source"])
            for x in (r["source"], float(r["q_cut"]))
        ]
    )
    return base.filter(F.col("q") >= cut_map[F.col("source")])


N_SHARDS = 16


def shard_manifest(documents: DataFrame) -> DataFrame:
    """Integrity manifest for deterministic training shards: per
    shard (md5-bucket % N_SHARDS), the document count, total
    token count, and an ORDER-INSENSITIVE content checksum (sum of
    each doc's 24-bit md5 prefix — commutative, so any partitioning
    or retry order produces the identical digest).  A backfill that
    silently drops or duplicates one document changes the triple;
    comparing manifests is how a 100 TB pipeline proves two runs
    shipped the same corpus without re-reading either.

    One map-side-combined aggregation over the scan; the checksum
    arithmetic is the same md5-nibble machinery as the split hash, so
    the oracle reproduces it bit-for-bit.
    """
    h = F.expr(_BUCKET_SQL).cast("long")
    doc_sum = " + ".join(
        f"(instr('{_HEX}', substring(md5(text), {k + 1}, 1)) - 1)"
        f" * {16 ** (5 - k)}"
        for k in range(6)
    )
    return (
        documents.select(
            (h % N_SHARDS).alias("shard_id"),
            F.expr(doc_sum).cast("long").alias("doc_digest"),
            F.size(tokens()).alias("n_toks"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.sum("doc_digest").alias("content_checksum"),
        )
    )


def corpus_dedup_report(documents: DataFrame) -> DataFrame:
    """One-row corpus health summary — the numbers a dedup run is
    judged by before anyone looks at pairs: total docs, docs that are
    exact duplicates of an earlier doc, members of near-dup pairs
    (exact Jaccard ≥ 0.8 over the df-capped shingle family), and the
    resulting unique-document rate.  Composes the existing tiers into
    a dashboard row; each input is itself oracle-checked, so this is
    aggregation, not new semantics.

    ONE declarative plan (r15): the three component aggregates are
    1-row frames crossJoined into the report row, so a single action
    computes everything — the previous form ran three sequential
    driver actions (two counts + a distinct-count) whose results were
    re-assembled via ``createDataFrame``.  Equivalences are exact:
    ``exact_dedup(docs).count()`` is the number of distinct content
    hashes (one group per ``content_sha``), and the near-dup member
    count folds the two pair columns through one explode.  The
    persisted corpus scan feeds both the count aggregate and the pair
    pipeline; its lifetime transfers to the returned frame
    (``own_cache``, same contract as curated_corpus).
    """
    docs = documents.select(*documents.columns).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        # == exact_dedup(docs).count(): one row per distinct
        # content_sha — including the NULL-text group, which
        # count_distinct alone would drop (exact_dedup's groupBy keeps
        # NULL as one group; ADVICE r15).  Fixtures carry no NULL
        # text, so the max-term is 0 there and results are unchanged.
        (
            F.count_distinct(F.sha2("text", 256))
            + F.coalesce(
                F.max(F.when(F.col("text").isNull(), 1).otherwise(0)),
                F.lit(0),  # empty corpus: max is NULL, n_uniq stays 0
            )
        ).alias("n_uniq"),
    )
    pairs = ngram_jaccard_pairs(docs, 0.8)
    near = pairs.select(
        F.explode(F.array("doc_a", "doc_b")).alias("d")
    ).agg(F.count_distinct("d").alias("n_near"))
    # unique_rate = (n_docs - n_exact_dupes)/n_docs = n_uniq/n_docs; the
    # quotient terminates within 4 decimals for every fixture cardinality
    # (k/500, k/5000, ...), so HALF_UP vs banker's rounding cannot
    # diverge — proven by the full oracle sweep either way.
    out = base.crossJoin(near).select(
        "n_docs",
        (F.col("n_docs") - F.col("n_uniq")).alias("n_exact_dupes"),
        F.col("n_near").alias("n_near_dup_members"),
        F.round(F.col("n_uniq") / F.col("n_docs"), 4).alias("unique_rate"),
    )
    return own_cache(out, docs, absorb=[pairs])


MAX_EPOCHS = 4


def epoch_repeat(documents: DataFrame) -> DataFrame:
    """UP-sampling half of data mixing (epoch weighting): each source
    is repeated ``floor(n_max / n_s)`` times, capped at
    ``MAX_EPOCHS`` — the low-resource-language / scarce-domain
    rebalance that down-sampling (:func:`temperature_sample`,
    :func:`mixture_rebalance`) cannot express, with the cap encoding
    the public finding that beyond ~4 repeats marginal value decays
    (Muennighoff et al. 2023).  Every copy is materialized with its
    ``copy_idx`` so downstream shuffling/packing treats epochs as
    distinct rows while provenance stays exact.

    The repeat factor is exact integer arithmetic on two counts —
    bit-identical across engines.  Scale shape: one bounded per-source
    count (collects ≤ |sources| rows), then the explode is a pure map
    whose fan-out equals the aggregate epoch factor — no join, no
    shuffle; output volume is the training-mix size by construction.
    """
    counts = (
        documents.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if not counts:
        return documents.select(
            "doc_id",
            "source",
            F.lit(0).cast("bigint").alias("n_epochs"),
            F.lit(0).cast("bigint").alias("copy_idx"),
        ).limit(0)
    n_max = max(r["n"] for r in counts)
    epochs = {r["source"]: min(MAX_EPOCHS, n_max // r["n"]) for r in counts}
    ep_map = F.create_map(
        *[F.lit(x) for kv in sorted(epochs.items()) for x in kv]
    )
    n_ep = ep_map[F.col("source")].cast("bigint")
    return documents.select(
        "doc_id",
        "source",
        n_ep.alias("n_epochs"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_ep - 1)).alias(
            "copy_idx"
        ),
    )


EVAL_FRAC_BP = 1000  # basis points: 10%


def stratified_split(documents: DataFrame, *, skew_guard: bool = True) -> DataFrame:
    """Stratified eval split: EXACTLY ``ceil(frac · n_s)`` documents
    from EVERY source (``EVAL_FRAC_BP`` in basis points, 1000 = 10%) —
    the guaranteed-proportion complement of the Bernoulli splits
    (:func:`split_assignments` holds fractions only in expectation,
    and a small domain can lose all its eval rows to variance; a
    benchmark needs every domain represented).

    Determinism: documents rank within their source by (md5-bucket,
    doc_id) and the cutoff is an exact integer ceil, so both engines
    pick the identical set.

    ``skew_guard`` (default on) is :func:`mixture_rebalance`'s
    bounded-histogram fence adapted to a per-source FRACTIONAL quota:
    the exact (source, hash) histogram (≤ |sources|·65 536
    pre-combined rows however large a source is) yields each source's
    total AND its ceil-quota-th hash cutoff in one bounded job; rows
    above their source's cutoff cannot be in the first ceil rows of
    the (hash, doc_id) order, so they are labeled ``train`` by a pure
    filter WITHOUT entering the window — the rank window's input
    shrinks from n_s to ~frac·n_s + one hash tie-group per source,
    and per-source totals ride the same ≤ |sources|-row collect as a
    map literal instead of a corpus-sized COUNT window.
    """
    h = F.expr(_BUCKET_SQL).cast("long")
    base = documents.select("doc_id", "source", h.alias("h"))

    def quota(n_col):
        return (n_col * EVAL_FRAC_BP + 9999) / F.lit(10000)

    if not skew_guard:
        n_w = Window.partitionBy("source")
        rk_w = Window.partitionBy("source").orderBy(
            F.col("h").asc(), F.col("doc_id").asc()
        )
        ranked = base.select(
            "doc_id",
            "source",
            F.count(F.lit(1)).over(n_w).alias("n_source"),
            F.row_number().over(rk_w).alias("rk"),
        )
        cutoff = F.floor(quota(F.col("n_source"))).cast("long")
        return ranked.select(
            "doc_id",
            "source",
            "n_source",
            F.when(F.col("rk") <= cutoff, "eval")
            .otherwise("train")
            .alias("split"),
        )

    cum_w = (
        Window.partitionBy("source")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hist = base.groupBy("source", "h").agg(F.count(F.lit(1)).alias("n"))
    stats_rows = (
        hist.select(
            "source",
            "h",
            F.sum("n").over(cum_w).alias("cum"),
            F.sum("n").over(Window.partitionBy("source")).alias("tot"),
        )
        .filter(F.col("cum") >= F.floor(quota(F.col("tot"))))
        .groupBy("source")
        .agg(F.min("h").alias("h_cap"), F.max("tot").alias("n_source"))
        .collect()
    )
    cap_map = F.create_map(
        *[
            lit
            for r in sorted(stats_rows, key=lambda r: r["source"])
            for lit in (F.lit(r["source"]), F.lit(r["h_cap"]))
        ]
    )
    n_map = F.create_map(
        *[
            lit
            for r in sorted(stats_rows, key=lambda r: r["source"])
            for lit in (F.lit(r["source"]), F.lit(r["n_source"]))
        ]
    )
    n_source = n_map[F.col("source")].cast("long")
    cutoff = F.floor(quota(n_source)).cast("long")
    head_rows = base.filter(F.col("h") <= cap_map[F.col("source")])
    rk_w = Window.partitionBy("source").orderBy(
        F.col("h").asc(), F.col("doc_id").asc()
    )
    head_out = head_rows.select(
        "doc_id",
        "source",
        n_source.alias("n_source"),
        F.when(
            F.row_number().over(rk_w) <= cutoff, "eval"
        )
        .otherwise("train")
        .alias("split"),
    )
    tail_out = base.filter(F.col("h") > cap_map[F.col("source")]).select(
        "doc_id",
        "source",
        n_source.alias("n_source"),
        F.lit("train").alias("split"),
    )
    return head_out.unionAll(tail_out)


MIN_NOVELTY = 0.5


def novelty_gate(documents: DataFrame) -> DataFrame:
    """Per-source corpus report for a NOVELTY-gated keep policy: how
    many documents each source keeps (novel_frac ≥ ``MIN_NOVELTY``) vs
    drops, and the kept token volume — the dedup-aware acceptance
    dashboard a crawl pipeline reads before admitting a source's batch
    (a re-publisher source shows a high drop rate here long before
    whole-doc dedup would flag anything, because ITS copies lose the
    first-owner race gram by gram).

    Composition, not new machinery: :func:`~..dedup.novelty_fraction`
    supplies the per-document score (its persisted gram table and
    MIN-per-gram scale story carry over); this adds one broadcast-able
    dimension join back to ``source`` and a per-source rollup — one
    extra shuffle on the source key.  Documents too short to carry a
    gram (< ``dedup.SPAN_N`` words) are reported in their own ``short_docs``
    column rather than silently dropped: at corpus scale, "too short
    to judge" is a signal about the source, not noise.
    """
    nv = novelty_fraction(documents)
    dim = documents.select(
        "doc_id",
        "source",
        F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")).alias(
            "n_words"
        ),
    )
    report = (
        dim.join(nv, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("novel_frac") >= MIN_NOVELTY, 1).otherwise(0)
            ).cast("bigint").alias("kept_docs"),
            F.sum(
                F.when(
                    F.col("novel_frac").isNotNull()
                    & (F.col("novel_frac") < MIN_NOVELTY),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("dropped_docs"),
            F.sum(
                F.when(F.col("novel_frac").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("short_docs"),
            F.sum(
                F.when(F.col("novel_frac") >= MIN_NOVELTY, F.col("n_words"))
                .otherwise(0)
            ).cast("bigint").alias("kept_tokens"),
        )
    )
    # Transfer the gram-table cache nv owns to the RETURNED frame —
    # dropping nv at function exit would otherwise fire its finalizer
    # and unpersist before any action runs (caching.py's documented
    # derivation hazard), recomputing the gram subplan per branch.
    return own_cache(report, absorb=[nv])


# ---------------------------------------------------------------------------
# DSIR importance weights
# ---------------------------------------------------------------------------

#: Hashed-feature space size for DSIR.  Public DSIR uses 10k buckets;
#: 1024 keeps the fixture's bucket table readable while preserving the
#: collision behavior the estimator is defined on.
DSIR_BUCKETS = 1024


def _hashed_gram_buckets():
    """(words column) -> exploded gram-bucket column builder.

    Feature = unigrams + word bigrams, hashed to ``DSIR_BUCKETS`` via the
    first 8 hex chars of md5 — the one hash both Spark and DuckDB
    evaluate bit-identically (same portability trick as the curation
    split buckets).  At 100 TB you would widen to the public DSIR
    default (10k buckets); the shape is unchanged.
    """
    w = tokens()
    grams = F.concat(w, word_ngrams(w, 2))
    bucket = (
        F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )
    return grams, bucket


DSIR_TARGET_LANG = "en"


def dsir_importance_weights(documents: DataFrame) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling", arXiv 2302.03169): score every raw document
    by how target-like its hashed-ngram profile is.

    Features are unigram+bigram counts hashed into ``DSIR_BUCKETS``;
    both the target distribution (here: ``lang = DSIR_TARGET_LANG`` docs as the
    in-domain proxy) and the raw distribution are add-1-smoothed
    bag-of-buckets models, and each doc's log importance weight is

        log w(x) = sum_b  c_b(x) * ( log p_target[b] - log p_raw[b] ).

    Docs with high ``log_importance`` resemble the target domain;
    resampling by these weights is the DSIR selection step.

    Distributed shape: ONE explode of the gram stream feeds both
    estimators and the scoring pass — (doc, bucket) partial counts
    aggregate map-side, the global bucket table is ≤ ``DSIR_BUCKETS``
    rows (corpus-size-independent), totals are a 1-row aggregate
    cross-joined back, and scoring joins the per-doc counts to the
    BROADCAST bucket-weight table.  No corpus-sized state ever sits
    on fewer than all partitions; the only full shuffles are the two
    keyed aggregations.

    Scores round to 4 digits: group-sum order varies between engines
    at the last ulp (same convention as ``unigram_logprob_scores``).
    """
    grams, bucket = _hashed_gram_buckets()
    # md5-per-gram is the dominant cost and sits below the first
    # shuffle — widen a single-split local scan so it parallelizes
    # (no-op at scale; see sources.tables.widen_for_compute).
    g = widen_for_compute(documents).select(
        "doc_id", "lang", F.explode(grams).alias("gram")
    ).select("doc_id", "lang", bucket.alias("bucket"))
    # per_doc feeds BOTH the bucket-model estimation and the scoring
    # pass; persist so the gram explode + first aggregation run once
    # (same shared-intermediate contract as curated_corpus).
    per_doc = g.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    glob = per_doc.groupBy("bucket").agg(
        F.sum("cnt").alias("raw_cnt"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(0)
        ).alias("tgt_cnt"),
    )
    totals = glob.agg(
        F.sum("raw_cnt").alias("raw_tot"), F.sum("tgt_cnt").alias("tgt_tot")
    )
    wts = glob.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (
            F.log((F.col("tgt_cnt") + 1) / (F.col("tgt_tot") + DSIR_BUCKETS))
            - F.log((F.col("raw_cnt") + 1) / (F.col("raw_tot") + DSIR_BUCKETS))
        ).alias("w"),
    )
    out = (
        per_doc.join(F.broadcast(wts), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(F.sum(F.col("cnt") * F.col("w")), 4).alias("log_importance"),
            F.sum("cnt").alias("n_grams"),
        )
    )
    return own_cache(out, per_doc)


def perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, arXiv
    1911.00359): split each language's documents into head / middle /
    tail terciles of the corpus-LM quality score and report the
    composition per (lang, bucket).

    CCNet's curation move is exactly this: score every document with a
    language model (here the in-repo corpus-unigram log-prob,
    ``text.unigram_logprob_scores`` — higher mean log p == lower
    perplexity == cleaner text), cut each LANGUAGE at its own 1/3 and
    2/3 quantiles, and keep/weight buckets downstream ("head" is the
    high-quality slice).  Per-language cuts matter for the same reason
    :func:`adaptive_quality_gate`'s per-source cuts do: one global
    threshold would grade every non-English language against English's
    score distribution.

    Distributed shape — NO window ever touches the fact table (a
    10⁹-doc language in one window partition is the classic scale
    killer):

    * scores round to 4 decimals → a bounded score domain, so the
      per-language tercile assignment is computable from an EXACT
      (lang, score) histogram whose map-side-combined shuffle carries
      at most |langs|·(domain) rows regardless of corpus size (the
      same bounded-histogram fence as :func:`mixture_rebalance` and
      :func:`adaptive_quality_gate`);
    * cumulative-fraction-from-the-top over the histogram (score DESC)
      gives each distinct score its bucket: head while cume ≤ 1/3,
      middle while ≤ 2/3, else tail — whole tie-groups land in one
      bucket in both engines by construction (so bucket OCCUPANCY is
      data-dependent: a language whose top tie-group already exceeds
      2/3 of its docs — e.g. a single-document language — reports only
      a tail bucket; the partition and range-ordering invariants are
      what always hold, property-tested in test_properties.py);
    * the bucketed histogram is dimension-sized and joins back
      BROADCAST on (lang, score); the final aggregate is
      |langs|·3 rows.

    Documents that receive NO score — exactly those whose tokenizer
    array is NULL or empty, i.e. NULL text (empty and whitespace-only
    text still yields the ``\"\"`` token and IS scored) — are not
    silently dropped from the composition: they report in a dedicated
    ``unscored`` bucket per language with NULL score stats, found by a
    narrow filter on the same tokenizer expression (no join, no second
    pass over the LM pipeline).
    """
    # The scored table feeds BOTH the histogram and the final
    # composition join; persist it so the two-shuffle LM pipeline
    # (token explode + freq join) runs once, with lifetime tied to the
    # returned frame (own_cache, same contract as curated_corpus).
    scored = (
        unigram_logprob_scores(documents)
        .join(documents.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", F.col("avg_logp").alias("lp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    hist = scored.groupBy("lang", "lp").agg(F.count(F.lit(1)).alias("n"))
    cum_w = (
        Window.partitionBy("lang")
        .orderBy(F.col("lp").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot_w = Window.partitionBy("lang")
    cd = F.sum("n").over(cum_w) / F.sum("n").over(tot_w)
    bucketed = hist.select(
        "lang",
        "lp",
        F.when(cd <= 1.0 / 3, F.lit("head"))
        .when(cd <= 2.0 / 3, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    out = (
        scored.join(F.broadcast(bucketed), ["lang", "lp"])
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("lp"), 4).alias("avg_logp"),
            F.round(F.min("lp"), 4).alias("min_logp"),
            F.round(F.max("lp"), 4).alias("max_logp"),
        )
    )
    # Docs the LM pipeline never scores: explode emits no rows iff the
    # token array is NULL or empty (== NULL text under the whitespace
    # tokenizer).  A narrow filter on the same expression — cheaper
    # than an anti-join against the corpus-sized score table, and
    # exact by explode's semantics.
    toks = tokens()
    unscored = (
        documents.filter(toks.isNull() | (F.size(toks) == 0))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "lang",
            F.lit("unscored").alias("bucket"),
            "n_docs",
            F.lit(None).cast("double").alias("avg_logp"),
            F.lit(None).cast("double").alias("min_logp"),
            F.lit(None).cast("double").alias("max_logp"),
        )
    )
    return own_cache(out.unionByName(unscored), scored)
