"""[EXT] Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard.

Design notes for 100 TB:

* **Portable deterministic hashing.** All hash functions are built
  from ``md5`` hex strings (salted per hash index), so the DuckDB
  oracle can reproduce every signature bit-for-bit.  Lexicographic
  MIN over salted md5 hex digests is a valid minhash permutation
  proxy (each salt induces an independent pseudo-random total order
  on shingles).
* **LSH instead of all-pairs.** The only quadratic step is the
  band-bucket self-join, whose size is controlled by band width:
  docs collide only if one band of their signatures matches exactly.
  At 100 TB the band join shuffles (band_idx, band_key) — uniformly
  distributed md5 keys, no skew — and candidate verification touches
  only colliding pairs, never n².
* **One shuffle per stage**: shingle-explode → groupBy(doc) for
  signatures; explode(bands) → self-join; candidate ⋈ shingles for
  exact-Jaccard verification.  Heavy-hitter shingles (stopword
  trigrams) are the classic skew source — mitigated by AQE skew-join
  locally and by document-frequency capping at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from go_mailio_diskusage_handler_spark.caching import own_cache
from go_mailio_diskusage_handler_spark.operators import text
from go_mailio_diskusage_handler_spark.sources.tables import widen_for_compute

SHINGLE_N = 3  # word trigrams
N_HASHES = 12
BAND_ROWS = 3
N_BANDS = N_HASHES // BAND_ROWS  # 4

# Document-frequency cap for the inverted-index (shared-shingle) joins:
# a shingle present in more than this many documents is treated as
# boilerplate and excluded from candidate generation, intersection
# counting, AND set sizes (consistent "Jaccard over informative
# shingles" semantics).  Without it, one stopword trigram with df=d
# makes a single join group emit O(d²) pairs — the one scale-killer in
# this family at 100 TB.  The fixtures' synthetic vocabulary keeps
# every df far below this default, so capped and uncapped results
# coincide at test scale while the guard stays on the hot path.
MAX_SHINGLE_DF = 1000


def shingles(documents: DataFrame) -> DataFrame:
    """doc_id → exploded DISTINCT word-trigram shingles.

    Docs with < 3 tokens are dropped (fixtures always have ≥ 30;
    mirrored by the oracle's ``len(t) >= 3`` guard).  The trigrams are
    ``text.word_ngrams``, linear in tokens per row.
    """
    toks = F.split(F.col("text"), " ")
    sh = text.word_ngrams(toks, SHINGLE_N)
    return (
        widen_for_compute(documents)
        .filter(F.size(toks) >= SHINGLE_N)
        .select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def cap_shingle_df(sh: DataFrame, max_doc_freq: int = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_doc_freq``.

    ``sh`` holds one row per (doc_id, DISTINCT shingle), so a plain
    COUNT per shingle IS the document frequency.  The heavy-hitter set
    is broadcast for an anti-join: its cardinality is bounded by
    total_shingle_instances / max_doc_freq and in practice is a handful
    of boilerplate phrases, so the corpus-side table never re-shuffles.
    Map-side partial aggregation collapses the df count before its one
    shuffle.
    """
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"h{j}")
        for j in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_key(b: int):
    cols = [F.col(f"h{j}") for j in range(b * BAND_ROWS, (b + 1) * BAND_ROWS)]
    return F.md5(F.concat_ws("|", *cols))


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band-bucket self-join → distinct candidate pairs (a < b)."""
    bands = signatures.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), _band_key(b).alias("band_key")
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def jaccard_for_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for given (doc_a, doc_b) pairs."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        pairs.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("za.n_shingles") + F.col("zb.n_shingles") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
    )


def minhash_dedup_pairs(documents: DataFrame, threshold: float = 0.8) -> DataFrame:
    """MinHash→LSH→exact-verify near-dup pairs with Jaccard ≥ threshold.

    The shingle table feeds four consumers (signatures, both sides of
    the verification join, set sizes); without persistence Spark
    re-runs the scan+shingle subplan for each — measured 2× end-to-end
    at sf0.1.  It is persisted once
    (MEMORY_AND_DISK — spills, never OOMs), which is also the 100 TB
    deployment shape: shingles/signatures are written as intermediate
    tables there, not recomputed per stage.
    """
    from pyspark import StorageLevel

    # Signatures feed BOTH sides of the band self-join (no exchange
    # reuse there), shingles feed signatures + both verification
    # sides + sizes; persisting the pair computes each once —
    # measured 2.4× end-to-end at sf0.1 on top of the shingle cache.
    sh = shingles(documents).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _signatures_from_shingles(sh).persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(sigs)
    out = jaccard_for_pairs(cands, sh).filter(F.col("jaccard") >= threshold)
    return own_cache(out, sh, sigs)


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.6,
    *,
    sh: DataFrame | None = None,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥ 1 shingle.

    The shared-shingle join bounds the pair set far under n² — as long
    as no single shingle is corpus-frequent, which ``max_doc_freq``
    enforces (:func:`cap_shingle_df`; ``None`` disables, callers that
    pre-capped pass ``None``).  The shingle table is persisted as in
    :func:`minhash_dedup_pairs` (three consumers here).  Callers that
    already hold a (persisted) shingle table pass it via ``sh`` so
    composite pipelines explode the corpus once.
    """
    from pyspark import StorageLevel

    owned: list[DataFrame] = []
    if sh is None:
        sh = shingles(documents)
        if max_doc_freq is None:
            sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
            owned.append(sh)
    if max_doc_freq is not None:
        # Persist the CAPPED table only — it is the one with three
        # consumers (sizes + both self-join sides).  Persisting the
        # raw table as well materializes the corpus explode twice
        # for no reuse win: the raw table's two consumers (the df
        # aggregate and the anti-join probe) are each single-pass,
        # and re-running the explode is cheaper than a second
        # storage materialization (A/B at sf0.1: 2.1 s vs 2.5-3 s).
        sh = cap_shingle_df(sh, max_doc_freq).persist(StorageLevel.MEMORY_AND_DISK)
        owned.append(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # One shuffle-join + one aggregation: intersection sizes fall out of
    # the shared-shingle join directly (no distinct-pairs + re-join).
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        inter.join(sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("za.n_shingles") + F.col("zb.n_shingles") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return own_cache(out, *owned)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
# 60 bits = 15 md5 nibbles: wide enough to separate near-dups from the
# random-pair hamming cloud (32 bits collide at hamming 0 on real data),
# and safely inside a signed int64 for both engines.
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 4
SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 15
_BLOCK_MASK = (1 << SIMHASH_BLOCK_BITS) - 1
_HEX = "0123456789abcdef"


def simhash_values(documents: DataFrame) -> DataFrame:
    """``SIMHASH_BITS``-bit SimHash per document from token md5s.

    Per-token nibble values are decoded from the first
    ``SIMHASH_BITS // 4`` hex digits of the md5 (portable across
    engines); each bit contributes ±1 weighted by token multiplicity;
    the sign vector packs into one long.  Plan: explode tokens → one
    groupBy(doc_id) with ``SIMHASH_BITS`` SUM aggregates (partial
    aggregation collapses the explode before the shuffle).
    """
    toks = widen_for_compute(documents).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    nibbles = toks.select(
        "doc_id",
        *[
            F.expr(
                f"instr('{_HEX}', substring(md5(token), {k + 1}, 1)) - 1"
            ).alias(f"v{k}")
            for k in range(SIMHASH_BITS // 4)
        ],
    )
    sums = nibbles.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(f"(shiftright(v{i // 4}, {3 - i % 4}) & 1) * 2 - 1")
            ).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    packed = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
                for i in range(SIMHASH_BITS)
            ],
            F.lit(0),
        ).cast("long").alias("simhash"),
    )
    return packed


def simhash_dedup_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via 4-block banding.

    Pigeonhole: hamming(a,b) ≤ 3 over 4 15-bit blocks ⇒ at least one
    block is identical, so joining on (block_idx, block_value) has
    full recall at the threshold; bit_count(xor) verifies exactly.

    The signature table feeds both sides of the self-join and Spark
    does NOT reuse the exchange there (different join-key columns per
    side) — persisting computes the 60-bit signatures once.
    """
    from pyspark import StorageLevel

    sims = simhash_values(documents).persist(StorageLevel.MEMORY_AND_DISK)
    blocks = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("block_idx"),
                        F.expr(
                            f"shiftright(simhash, {SIMHASH_BLOCK_BITS * m})"
                            f" & {_BLOCK_MASK}"
                        ).alias("block_val"),
                    )
                    for m in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_idx", "blk.block_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return own_cache(out, sims)


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


def band_rows(sigs: DataFrame) -> DataFrame:
    """Signatures → one (doc_id, band_idx, band_key) row per band —
    the storable LSH index layout shared by the batch incremental
    dedup and the streaming ingest twin."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), _band_key(b).alias("band_key")
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")


def incremental_minhash_pairs(
    documents: DataFrame,
    batch_min_doc_id: int,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental fuzzy dedup: near-dup pairs involving at least one
    NEW document (doc_id ≥ ``batch_min_doc_id``), i.e. every
    :func:`minhash_dedup_pairs` pair EXCEPT old×old — those were
    already adjudicated when the old batch landed.

    This is how a 100 TB corpus actually deduplicates day over day:
    the banded signature index of the existing corpus is a stored
    table (here: the full band table filtered by id; in production,
    yesterday's output), and only the new batch is shingled, signed,
    and probed against it.  Cost per ingest is
    O(new·bands + matching-bucket pairs), never a re-scan of the
    corpus-wide O(N²) candidate space; the probe side (new docs'
    band keys) is the small side of the join.

    Output matches the full-corpus pair set restricted to
    ``doc_b ≥ batch_min_doc_id`` (pairs are emitted a < b, and b is
    the newer doc whenever exactly one side is new), so re-running
    the full dedup would find nothing new — the invariant the
    incremental form must preserve.
    """
    from pyspark import StorageLevel

    sh = shingles(documents).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _signatures_from_shingles(sh).persist(StorageLevel.MEMORY_AND_DISK)
    bands = band_rows(sigs)
    index_side = bands.alias("a")  # full corpus: the stored band index
    probe_side = bands.filter(F.col("doc_id") >= batch_min_doc_id).alias("b")
    cands = (
        index_side.join(
            probe_side,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    out = jaccard_for_pairs(cands, sh).filter(F.col("jaccard") >= threshold)
    return own_cache(out, sh, sigs)


def connected_components(
    pairs: DataFrame, max_iterations: int = 25
) -> tuple[DataFrame, int]:
    """Connected components over an undirected pair graph, labeling
    every node with the smallest node id in its component.

    Min-label propagation **with a pointer-doubling shortcut**: every
    node starts labeled with itself; each round a node takes (a) the
    min of its own and its neighbors' labels, then (b) jumps one hop
    through the label table (``label ← label[label]``).  The hop is
    what bounds rounds: plain propagation needs diameter rounds (a
    10⁶-node chain would need 10⁶), while path-halving converges in
    O(log diameter) — the same bound as the large-star/small-star
    edge-rewrite algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond"), but with the edge set static and
    checkpointed ONCE: star rounds shuffle O(E) rewritten edges every
    iteration, whereas this loop shuffles O(E) join keys plus two
    O(V) label tables, and near-dup graphs have E ≈ small·V.

    Fixpoint detection: labels only ever decrease, so an unchanged
    SUM(label) ⇔ no label changed — one cheap agg per round instead
    of a set diff.  The 1-row ``collect`` per round is the loop
    condition, not a data path.

    Checkpointing truncates lineage each round — without it the plan
    doubles per iteration and Catalyst analysis time blows up around
    round 8.  The edges take an eager ``localCheckpoint`` (their count
    sizes the loop); each round's labels take a lazy one that the
    fixpoint SUM materializes inside its own action.  Executor-local
    blocks are the trade-off ``DiskUsageHandler``'s DataFrame serving
    also makes: an executor loss fails the job instead of replaying
    it.

    Iteration frames are re-sized to the measured edge count (the
    checkpoint materializes edges anyway, so the count is free):
    near-dup graphs are orders of magnitude smaller than the corpus,
    and dragging the session's full partition count through every
    round charged ~0.15 s/round of pure task overhead at sf0.1.

    Returns ``(labels, rounds_used)``.  Partially-converged labels are
    silently WRONG cluster ids — a dedup pipeline keeping one doc per
    *unfinished* cluster deletes the wrong documents — so hitting
    ``max_iterations`` without a fixpoint RAISES.
    """
    sc = pairs.sparkSession.sparkContext
    # Each undirected pair fans out to its two directed edges with ONE
    # explode over the pair subtree (r16) — the previous
    # union(pairs, pairs.swapped) carried the whole pair-generation
    # plan TWICE and relied on exchange reuse to dedup the execution;
    # the explode makes the single evaluation structural.  The edge
    # checkpoint is eager: the edge list is measured (count) right after.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a"), F.col("doc_b")),
                    F.struct(
                        F.col("doc_b").alias("doc_a"),
                        F.col("doc_a").alias("doc_b"),
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_a", "e.doc_b")
        .localCheckpoint()
    )
    loop_parts = max(
        4, min(sc.defaultParallelism, edges.count() // 100_000)
    )
    edges = edges.coalesce(loop_parts)
    # Labels checkpoint lazily (r16, measured): every labels frame is
    # followed immediately by the fixpoint SUM aggregate, which
    # materializes the checkpoint blocks INSIDE the same action — one
    # driver round-trip per loop iteration instead of two (guide §7:
    # cut per-round actions).  Labels are reused from blocks afterwards
    # exactly as with eager=True.
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .coalesce(loop_parts)
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
    for rounds in range(1, max_iterations + 1):
        # min(own, min over in-neighbors) as ONE aggregation: each
        # edge contributes its tail's label to its head, the node's own
        # label rides the union, and a single groupBy-min folds both —
        # replacing the join→groupBy→left-join chain (two shuffles + a
        # re-join) with broadcast-join→union→one shuffle.  Identical
        # per-round labels by construction (min is idempotent over the
        # self-contribution); interleaved warm A/B at sf0.1 (r15):
        # median 1.34 s vs 1.59 s per converged loop.
        contrib = edges.join(labels, edges["doc_a"] == labels["doc_id"]).select(
            F.col("doc_b").alias("doc_id"), "cluster_id"
        )
        propagated = (
            contrib.unionByName(labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # Pointer-doubling: cluster_id values are themselves node ids,
        # so one self-join follows the label a second hop per round.
        # (No checkpoint of ``propagated`` needed: ReuseExchange dedups
        # the twice-referenced subtree — measured equal at sf0.1, r15.)
        hop = propagated.select(
            F.col("doc_id").alias("h_id"), F.col("cluster_id").alias("h_cl")
        )
        labels = (
            propagated.join(hop, propagated["cluster_id"] == hop["h_id"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("h_cl"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .coalesce(loop_parts)
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if new_sum == prev_sum:
            return labels, rounds
        prev_sum = new_sum
    raise RuntimeError(
        f"connected_components hit max_iterations={max_iterations} "
        "without reaching a fixpoint; cluster_ids would span "
        "unfinished merges (raise max_iterations)"
    )


def duplicate_clusters(
    documents: DataFrame,
    threshold: float = 0.6,
    *,
    sh: DataFrame | None = None,
    max_doc_freq: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Group near-duplicate documents into clusters: connected
    components over the exact-Jaccard pair graph, labeled by the
    smallest doc_id in each component — the step after pair
    generation in a training-data pipeline (keep ``doc_id ==
    cluster_id``, drop the rest).

    Delegates to :func:`connected_components` (min-label propagation
    with pointer-doubling, O(log diameter) rounds).  Non-convergence
    raises rather than returning cluster ids that span unfinished
    merges — downstream keep-one-per-cluster would delete the wrong
    documents.

    Output: (doc_id, cluster_id) for every document that belongs to
    at least one near-dup pair; singleton documents are not emitted.
    """
    # pair_src stays a local (not a chained temporary) so its owned
    # shingle cache lives through the eager CC loop and is released
    # exactly at function exit — the loop's checkpoints make the
    # returned labels independent of it.
    pair_src = ngram_jaccard_pairs(
        documents, threshold, sh=sh, max_doc_freq=max_doc_freq
    )
    pairs = pair_src.select("doc_a", "doc_b")
    labels, _ = connected_components(pairs)
    return labels


def ngram_containment_pairs(documents: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Directed n-gram CONTAINMENT near-dup: (doc_src, doc_dst) where
    ``|S_src ∩ S_dst| / |S_src| ≥ threshold`` — the asymmetric
    complement of Jaccard.  A short document quoted inside a long one
    scores near-zero Jaccard (the union is huge) but containment ≈ 1
    from the short side; corpus curation needs this direction to drop
    subsumed fragments while keeping the containing document.

    Same scale fence as the Jaccard path: candidates come from the
    shared-shingle self-join over the DF-CAPPED shingle table (one
    shuffle-join + one aggregation; quadratic only inside bounded
    shingle groups).  Each unordered candidate pair is evaluated once
    and emits 0-2 directed rows via an array-filter-explode — no
    second join, no union re-scan.
    """
    from pyspark import StorageLevel

    sh = cap_shingle_df(shingles(documents)).persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    both = inter.join(
        sizes.alias("za"), F.col("doc_a") == F.col("za.doc_id")
    ).join(sizes.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
    directed = F.array(
        F.struct(
            F.col("doc_a").alias("doc_src"),
            F.col("doc_b").alias("doc_dst"),
            (F.col("inter") / F.col("za.n_shingles")).alias("c"),
        ),
        F.struct(
            F.col("doc_b").alias("doc_src"),
            F.col("doc_a").alias("doc_dst"),
            (F.col("inter") / F.col("zb.n_shingles")).alias("c"),
        ),
    )
    out = (
        both.select(
            F.explode(
                F.filter(directed, lambda s: s["c"] >= F.lit(threshold))
            ).alias("p")
        )
        .select(
            F.col("p.doc_src").alias("doc_src"),
            F.col("p.doc_dst").alias("doc_dst"),
            F.round(F.col("p.c"), 4).alias("containment"),
        )
    )
    return own_cache(out, sh)


EDITDIST_HEAD_CHARS = 64


def simhash_pairs_editdist(documents: DataFrame) -> DataFrame:
    """Edit-distance verification tier over the SimHash candidate
    pairs: Levenshtein on the documents' fixed-width heads, appended
    to each banded-candidate pair.

    The tiering is the scale story: Levenshtein is O(m·n) PER PAIR —
    unthinkable corpus-wide — but the SimHash bands have already cut
    the pair space to hash-close candidates, and the fixed
    ``EDITDIST_HEAD_CHARS`` cap bounds each evaluation at O(head²)
    regardless of document length.  This is the standard cheap-filter →
    expensive-verify composition (same shape as the LSH → exact-cosine
    re-rank), here with a string metric the sketch tiers cannot give.
    """
    pair_src = simhash_dedup_pairs(documents)
    pairs = pair_src.select("doc_a", "doc_b")
    heads = documents.select(
        "doc_id", F.substring("text", 1, EDITDIST_HEAD_CHARS).alias("head")
    )
    out = (
        pairs.join(
            heads.select(
                F.col("doc_id").alias("doc_a"), F.col("head").alias("head_a")
            ),
            "doc_a",
        )
        .join(
            heads.select(
                F.col("doc_id").alias("doc_b"), F.col("head").alias("head_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("head_a", "head_b").alias("head_edit_dist"),
        )
    )
    return own_cache(out, absorb=[pair_src])


SPAN_N = 8  # word n-gram length of the exact-span and novelty tiers
SPAN_MIN_DOCS = 2  # a span is duplicated once this many documents hold it


def duplicated_span_coverage(documents: DataFrame) -> DataFrame:
    """Exact duplicated-substring coverage — the distributed analog of
    suffix-array exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for each document,
    the fraction of its tokens covered by at least one word
    ``SPAN_N``-gram that also occurs in ≥ ``SPAN_MIN_DOCS`` distinct
    documents.  Corpus policies drop or trim documents above a
    coverage threshold; unlike whole-doc fuzzy dedup this catches long
    verbatim quotations inside otherwise-unique documents.

    Plan shape at 100 TB (suffix arrays don't distribute; n-gram
    inversion does):

    * one row per n-gram occurrence (posexplode — linear in corpus
      tokens), ONE shuffle on the gram string for the doc-frequency
      aggregate (partial map-side combine makes the exchange
      vocabulary×tasks-bounded);
    * the duplicated-gram set semi-joins back against occurrences on
      the same key — Catalyst reuses the exchange, and at production
      scale the gram string would be xxhash64-compressed to a fixed
      8-byte join key (kept as the raw string here for bit-exact
      oracle parity);
    * coverage union = explode each surviving occurrence into its
      SPAN_N covered positions, distinct, count — bounded by SPAN_N×
      the DUPLICATED occurrences only, not the corpus.

    Output: (doc_id, n_words, covered_tokens, dup_span_frac), one row
    per document including zero-coverage ones.
    """
    base = documents.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("t"),
    ).select("doc_id", "t", F.size("t").alias("n_words"))
    gram_arr = F.when(
        F.col("n_words") >= SPAN_N,
        F.expr(
            f"transform(sequence(1, size(t) - {SPAN_N - 1}), "
            f"i -> concat_ws(' ', slice(t, i, {SPAN_N})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select("doc_id", F.posexplode(gram_arr).alias("idx", "g"))
    dup_grams = (
        occ.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= SPAN_MIN_DOCS)
        .select("g")
    )
    covered = (
        occ.join(dup_grams, "g")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(idx, idx + {SPAN_N - 1})")).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered"))
    )
    return (
        base.select("doc_id", "n_words")
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce(F.col("covered"), F.lit(0)).alias("covered_tokens"),
            F.round(
                F.coalesce(F.col("covered"), F.lit(0)) / F.col("n_words"), 4
            ).alias("dup_span_frac"),
        )
    )


def prefix_filter_jaccard_pairs(
    documents: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (All-Pairs /
    PPJoin family, Bayardo et al. 2007) — the second candidate-
    generation strategy next to MinHash banding, with a LOSSLESS
    guarantee the probabilistic LSH path can't give: if
    ``J(A,B) ≥ t``, the first ``|S| - ceil(t·|S|) + 1`` shingles of
    each side (in one global order) MUST intersect, so indexing only
    prefixes finds every qualifying pair.  Output is therefore
    exactly the full self-join's answer; the oracle asserts that.

    Plan shape at 100 TB:

    * global shingle order = (corpus document-frequency ASC, shingle
      ASC) — rare-first.  This both minimizes candidates (rare tokens
      collide rarely) AND self-fences skew: a boilerplate shingle in
      10⁶ docs sorts LAST and almost never enters a prefix, so the
      hot-key join problem the Jaccard family needs ``cap_shingle_df``
      for mostly disappears here.
    * prefix length is EXACT integer arithmetic — ``ceil(t·n)`` via
      ``(a·n + b − 1) div b`` with t = a/b — because a float ceil that
      lands one too high shrinks the prefix and silently breaks the
      losslessness guarantee.
    * the self-join runs on the prefix table (a small fraction of the
      shingle table); survivors get the exact Jaccard via
      :func:`jaccard_for_pairs` on the FULL shingle table.
    """
    from fractions import Fraction

    fr = Fraction(str(threshold))
    a, b = fr.numerator, fr.denominator
    from pyspark import StorageLevel

    sh = shingles(documents).persist(StorageLevel.MEMORY_AND_DISK)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("shingle").asc()
    )
    nw = Window.partitionBy("doc_id")
    ranked = (
        sh.join(freq, "shingle")
        .select(
            "doc_id",
            "shingle",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(nw).alias("n"),
        )
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.expr(f"n - (({a} * n + {b - 1}) div {b}) + 1")
    ).select("doc_id", "shingle", "rn", "n")
    # PPJoin POSITIONAL filter: a match at prefix positions (px, py)
    # bounds the possible overlap by min(n_a - px, n_b - py) + 1; a
    # pair with J ≥ t needs overlap ≥ α = ceil(t/(1+t)·(n_a+n_b)), so
    # matches whose positional bound can't reach α are dropped before
    # the distinct — completeness holds because for a qualifying
    # pair's first shared prefix token the bound ≥ the true overlap.
    # α in exact integer math again: t/(1+t) = a/(a+b).
    ab = a + b
    cand = (
        prefix.alias("x")
        .join(
            prefix.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(
            F.least(
                F.col("x.n") - F.col("x.rn"), F.col("y.n") - F.col("y.rn")
            )
            + 1
            >= F.expr(f"({a} * (x.n + y.n) + {ab - 1}) div {ab}")
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # PPJoin-style verify: per-doc SORTED shingle arrays attach to each
    # candidate side and the exact intersection is a JVM array op —
    # two narrow joins on doc ids instead of re-joining the full
    # shingle table per pair and re-aggregating (measured 18.6 s →
    # ~8 s at sf0.1).  Doc shingle sets are document-length-bounded,
    # so the arrays are small however big the corpus is.
    doc_sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("shingle")).alias("ss"),
        F.count(F.lit(1)).alias("n"),
    )
    out = (
        cand.join(
            doc_sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("ss").alias("ss_a"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("ss").alias("ss_b"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ss_a", "ss_b")).alias("inter"),
            "n_a",
            "n_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return own_cache(out, sh)


def near_dup_triangles(
    documents: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Triangles in the near-duplicate graph — the cluster-density
    signal dedup QA uses: a pair-heavy but triangle-free graph means
    chained borderline matches (A~B~C with A̸~C, the transitive-
    closure trap), while triangle-rich components are genuine
    duplicate groups.  Output: one row per triangle, canonically
    ordered (doc_a < doc_b < doc_c).

    Distributed shape (node-iterator++ / degree orientation): edges
    re-orient from the LOWER-degree endpoint to the higher (ties on
    id), which provably bounds per-node out-degree by O(sqrt(|E|)) on
    any graph — the wedge join (e1.dst = e2.src) then never explodes
    on a hub node, the classic fix that makes distributed triangle
    enumeration survive power-law duplicate clusters at corpus scale.
    Three joins total: wedge build + existence check against the
    (re-oriented) edge set, all shuffle-keyed on node ids.
    """
    # The edge list is tiny (near-dup pairs) but its PLAN is the whole
    # Jaccard pipeline — and it feeds the degree count plus three
    # self-join branches.  Materializing it collapses six re-executions
    # of the shingle join into one (measured 14.1 s → ~3 s at sf0.1).
    # localCheckpoint (eager), not persist: persist keeps the full
    # logical lineage, so the six downstream branch references each
    # nest the whole Jaccard tree — the unrolled explain carried 263
    # Exchange references and Catalyst re-analyzed them all (the same
    # plan-growth class the pagerank loop had; guide §3.3/§7.3).  The
    # checkpoint truncates every branch to a LogicalRDD scan; the pair
    # generator's shingle cache is released at function exit (pair_src
    # dies here) because nothing downstream can re-derive from it.
    pair_src = ngram_jaccard_pairs(documents, threshold)
    edges = pair_src.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("u").alias("x"))
        .union(edges.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("e")
        )
        .select("e.s", "e.t")
        # Three consumers (both wedge sides + the closing-edge probe):
        # checkpointing the re-orientation runs its two degree joins
        # once instead of three times and leaves the final plan as two
        # joins over LogicalRDD scans.
        .localCheckpoint(eager=True)
    )
    # Wedges at a common source (two out-edges): the (deg, id)
    # orientation is an acyclic total order, so every triangle has
    # EXACTLY one node with out-edges to the other two — each triangle
    # enumerates once, no distinct pass.  The closing edge joins in
    # canonical undirected form — one equi-join, never a nested loop.
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.s") == F.col("e2.s"))
        .filter(F.col("e1.t") < F.col("e2.t"))
        .select(
            F.col("e1.s").alias("a"),
            F.col("e1.t").alias("b"),
            F.col("e2.t").alias("c"),
        )
    )
    closing = e.select(
        F.least("s", "t").alias("b"), F.greatest("s", "t").alias("c")
    )
    tri = wedge.join(closing, ["b", "c"])
    arr = F.array_sort(F.array("a", "b", "c"))
    out = tri.select(
        arr[0].alias("doc_a"), arr[1].alias("doc_b"), arr[2].alias("doc_c")
    )
    # No cache ownership to transfer: both intermediates are
    # checkpointed (blocks release with RDD GC) and pair_src's shingle
    # cache dies with this frame's scope, right after the eager
    # checkpoint that consumed it.
    return out


def minhash_estimate_quality(documents: DataFrame) -> DataFrame:
    """Estimator diagnostics for the MinHash tier: for every LSH
    candidate pair, the SIGNATURE-estimated Jaccard (fraction of
    agreeing minhash positions — the unbiased estimator banding is
    built on) next to the exact shingle Jaccard and the absolute
    error.  This is the calibration report that justifies N_HASHES:
    the estimator's stderr is sqrt(j(1-j)/K), so K=12 puts typical
    error ~0.14 at j=0.5 and ~0.09 at j=0.9 — and the measured errors
    should sit inside that envelope.

    Same plan as the dedup path (signatures + band self-join + exact
    verify) plus one signature re-join for the agreement count; the
    whole report is candidate-bounded, never all-pairs.
    """
    from pyspark import StorageLevel

    sh = shingles(documents).persist(StorageLevel.MEMORY_AND_DISK)
    sigs = _signatures_from_shingles(sh).persist(StorageLevel.MEMORY_AND_DISK)
    cand = lsh_candidate_pairs(sigs)
    agree = None
    for j in range(N_HASHES):
        t = (F.col(f"sa.h{j}") == F.col(f"sb.h{j}")).cast("int")
        agree = t if agree is None else agree + t
    est = (
        cand.join(sigs.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sigs.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(N_HASHES), 4).alias("est_jaccard"),
        )
    )
    exact = jaccard_for_pairs(cand, sh)
    out = est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 4).alias(
            "abs_err"
        ),
    )
    return own_cache(out, sh, sigs)


EVAL_JACCARD_THRESHOLD = 0.6


def dedup_eval_pr(documents: DataFrame) -> DataFrame:
    """Candidate-quality evaluation of the SimHash tier against exact
    n-gram Jaccard truth: precision / recall / F1 of the banded
    SimHash pairs (at :func:`simhash_dedup_pairs`' default radius) vs
    the pairs whose true Jaccard ≥ ``EVAL_JACCARD_THRESHOLD`` — the
    measurement that turns "we have a cheap dedup tier" into "we know
    what it misses" (cf. text.language_confusion for the classifier
    analog).

    Both pair sets are the existing operators, unchanged; the
    comparison is ONE tagged-union aggregation on the pair key (the
    single-shuffle reconcile shape) folded to a 1-row report.  Rates
    are exact-integer ratios rounded at 4; an empty side reports 0.0
    with ``evaluable = false`` rather than dividing by zero.
    """
    # Hold the pair-generator frames in locals: they carry ownership
    # of their persisted shingle/signature caches (own_cache), which
    # must transfer to the returned report, not die with a temporary.
    truth_pairs = ngram_jaccard_pairs(documents, EVAL_JACCARD_THRESHOLD)
    pred_pairs = simhash_dedup_pairs(documents)
    truth = truth_pairs.select(
        "doc_a", "doc_b", F.lit(1).alias("t"), F.lit(0).alias("p")
    )
    pred = pred_pairs.select(
        "doc_a", "doc_b", F.lit(0).alias("t"), F.lit(1).alias("p")
    )
    pk = (
        truth.unionAll(pred)
        .groupBy("doc_a", "doc_b")
        .agg(F.max("t").alias("in_t"), F.max("p").alias("in_p"))
    )
    m = pk.groupBy().agg(
        F.sum("in_t").alias("n_truth"),
        F.sum("in_p").alias("n_pred"),
        F.sum(F.col("in_t") * F.col("in_p")).alias("tp"),
    )
    evaluable = (F.col("n_truth") > 0) & (F.col("n_pred") > 0)
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
    rec = F.when(F.col("n_truth") > 0, F.col("tp") / F.col("n_truth"))
    f1 = F.when(
        evaluable & (prec + rec > 0), 2 * prec * rec / (prec + rec)
    )
    out = m.select(
        "n_truth",
        "n_pred",
        "tp",
        F.coalesce(evaluable, F.lit(False)).alias("evaluable"),
        F.coalesce(F.round(prec, 4), F.lit(0.0)).alias("precision"),
        F.coalesce(F.round(rec, 4), F.lit(0.0)).alias("recall"),
        F.coalesce(F.round(f1, 4), F.lit(0.0)).alias("f1"),
    )
    return own_cache(out, absorb=[truth_pairs, pred_pairs])


def trim_duplicated_spans(documents: DataFrame, n: int = SPAN_N) -> DataFrame:
    """Exact duplicated-substring REMOVAL — the rewrite policy that
    :func:`duplicated_span_coverage` only measures (Lee et al. 2022
    drop the repeated substring, keeping one occurrence; this variant
    trims every occurrence, the conservative form when provenance is
    unknown): every token covered by a word ``n``-gram occurring in
    ≥ ``SPAN_MIN_DOCS`` distinct documents is deleted, and the surviving
    tokens are reassembled in order into ``trimmed_text``.

    Plan shape at 100 TB — linear, no per-row quadratic membership
    scan (a ``transform(sequence(...), i -> array_contains(cov, i))``
    flag build is O(len·|cov|) per document, quadratic on long docs):

    * gram inversion identical to the coverage operator: posexplode
      (corpus-linear) + ONE vocabulary-bounded shuffle for the
      document-frequency aggregate, exchange reused by the
      duplicated-gram semi-join;
    * covered positions = explode surviving occurrences into their
      ``n`` positions, distinct — bounded by n× the DUPLICATED
      occurrences only;
    * the rewrite is a positional LEFT ANTI join of the token table
      against covered positions (both shuffled on (doc_id, p) — AQE
      co-partitions) and one groupBy(doc_id) reassembly via
      array_sort(collect_list(struct(p, tok))) — per-group state is
      one document, so executor memory is bounded by max doc length,
      never corpus size.

    Output: one row per document — (doc_id, n_words, kept_tokens,
    removed_tokens, trimmed_text); a fully-duplicated document keeps
    an empty string.  NULL text is coalesced to '' BEFORE the split
    (mirrored in the oracle): without it Spark's size(split(NULL))
    yields -1 while SQL engines yield NULL — a cross-engine trap even
    though current fixtures carry no NULL text.
    """
    base = documents.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t"),
    ).select("doc_id", "t", F.size("t").alias("n_words"))
    gram_arr = F.when(
        F.col("n_words") >= n,
        F.expr(
            f"transform(sequence(1, size(t) - {n - 1}), "
            f"i -> concat_ws(' ', slice(t, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select("doc_id", F.posexplode(gram_arr).alias("idx", "g"))
    dup_grams = (
        occ.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= SPAN_MIN_DOCS)
        .select("g")
    )
    covered = (
        occ.join(dup_grams, "g")
        .select(
            "doc_id",
            # posexplode idx is 0-based; token positions are 1-based
            F.explode(F.expr(f"sequence(idx + 1, idx + {n})")).alias("p"),
        )
        .distinct()
    )
    toks_pos = base.select(
        "doc_id", F.posexplode(F.col("t")).alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("p"), "tok")
    rebuilt = (
        toks_pos.join(covered, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("trimmed_text"),
        )
    )
    return (
        base.select("doc_id", "n_words")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.coalesce(F.col("kept"), F.lit(0)).cast("bigint").alias(
                "kept_tokens"
            ),
            (F.col("n_words") - F.coalesce(F.col("kept"), F.lit(0)))
            .cast("bigint")
            .alias("removed_tokens"),
            F.coalesce(F.col("trimmed_text"), F.lit("")).alias("trimmed_text"),
        )
    )


def weighted_jaccard_pairs(documents: DataFrame, threshold: float = 0.5) -> DataFrame:
    """IDF-weighted Jaccard near-dup pairs — the set-similarity tier
    that discounts boilerplate instead of merely capping it: each
    shingle weighs ``ln(N / df)`` (N = documents in the shingle
    table), so two documents sharing RARE content score high even
    when template text dominates their unweighted overlap, and pairs
    that agree only on near-universal shingles (weight → 0) drop out.
    Complements :func:`ngram_jaccard_pairs` (unweighted exact) and the
    MinHash tier (unweighted probabilistic).

    Plan shape at 100 TB:

    * weights come from the SAME vocabulary-bounded df aggregate the
      cap already needs — one shuffle, map-side combined; N is a
      1-row aggregate broadcast into the weight expression (never a
      driver collect);
    * the weighted shingle table is persisted once and feeds all
      three consumers (per-doc totals + both self-join sides); the
      df cap bounds the shared-shingle join exactly as in the
      unweighted tier;
    * intersection weight falls out of the equi-join directly — one
      aggregation, no distinct-pairs + re-join pass.

    Both engines ROUND the score at 4 before the threshold compare
    (sum-of-doubles order differs across engines; the round-before-
    compare convention keeps the emitted PAIR SET identical).  A
    zero-weight denominator (both docs entirely df=N shingles) is
    filtered, not divided.
    """
    from pyspark import StorageLevel

    # NOT restructured to a single shared df aggregate (r16, verdict
    # item 4 tried and REVERTED): replacing cap_shingle_df's tiny-hot-
    # set broadcast anti-join + cached-table df re-aggregate with ONE
    # df aggregate whose kept vocabulary inner-joins the raw shingle
    # table read 2.94 s vs 1.64 s isolated median (jobs 24 → 31) — the
    # vocabulary-sized join side loses the broadcast the hot set gets,
    # and the "duplicate" second aggregate actually runs over the
    # persisted capped table, which is cheaper than the extra shuffle.
    # Three consumers of the capped table (N aggregate, df aggregate,
    # the weighted-join build) — persist it or the corpus explode and
    # cap join run three times (measured 7.9 s vs 2.5 s at sf0.1).
    sh = cap_shingle_df(shingles(documents), MAX_SHINGLE_DF).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_docs = sh.select(F.count_distinct("doc_id").alias("n_docs"))
    dfw = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "shingle", F.log(F.col("n_docs") / F.col("df")).alias("w")
        )
    )
    sw = sh.join(dfw, "shingle").select("doc_id", "shingle", "w").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    wsz = sw.groupBy("doc_id").agg(F.sum("w").alias("wtot"))
    winter = (
        sw.alias("x")
        .join(
            sw.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("x.w")).alias("wi"))
    )
    denom = F.col("za.wtot") + F.col("zb.wtot") - F.col("wi")
    out = (
        winter.join(wsz.alias("za"), F.col("doc_a") == F.col("za.doc_id"))
        .join(wsz.alias("zb"), F.col("doc_b") == F.col("zb.doc_id"))
        .filter(denom > 0)
        .select(
            "doc_a",
            "doc_b",
            # try_divide, not /: under ANSI mode Catalyst collapses the
            # guard filter into the same stage, so a zero denominator
            # (both docs all df=N shingles) would throw before the
            # predicate drops the row; NULL fails >= threshold instead.
            F.round(F.try_divide(F.col("wi"), denom), 4).alias("w_jaccard"),
        )
        .filter(F.col("w_jaccard") >= threshold)
    )
    return own_cache(out, sh, sw)


def gram_occurrences(documents: DataFrame, n: int) -> DataFrame:
    """Distinct (doc_id, g) word-n-gram occurrences — the shared
    subplan of the novelty family (batch, incremental, AND the
    streaming ingest).  One definition keeps the three paths
    row-for-row comparable: the stream≡batch equivalence tests depend
    on all of them tokenizing and slicing identically."""
    toks = documents.select(
        "doc_id",
        F.split(F.coalesce(F.col("text"), F.lit("")), " ").alias("t"),
    )
    gram_arr = F.expr(
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> concat_ws(' ', slice(t, i, {n})))"
    )
    return (
        toks.filter(F.size("t") >= n)
        .select("doc_id", F.explode(gram_arr).alias("g"))
        .distinct()
    )


def novelty_fraction(documents: DataFrame) -> DataFrame:
    """Per-document NOVELTY — the curation signal dual to
    :func:`duplicated_span_coverage`: the fraction of a document's
    distinct word ``SPAN_N``-grams whose FIRST corpus occurrence (minimum
    ``doc_id`` — ingestion order in this corpus) is the document
    itself.  A crawl pipeline ranks same-topic documents by novelty to
    keep first-sources and demote re-publishers; coverage alone cannot
    distinguish the original from its copies (both score identically),
    novelty can (the original owns its grams, the copy owns none).

    Plan shape at 100 TB — the same corpus-linear gram inversion the
    span family uses, but the per-gram aggregate is a MIN, so there is
    no pairwise join to cap:

    * posexplode n-grams, distinct per (doc_id, gram) — corpus-linear;
    * ONE vocabulary-bounded shuffle on the gram for ``min(doc_id)``
      (map-side partial MIN makes the exchange vocabulary×tasks-
      bounded, and MIN is insensitive to the heavy-hitter df skew that
      forces the Jaccard family's MAX_SHINGLE_DF cap);
    * the first-owner table joins back on the same key (exchange
      reused), then one doc_id shuffle for the per-document rollup.

    Output: (doc_id, n_grams, novel_grams, novel_frac), one row per
    document with ≥1 gram (shorter documents carry no signal and are
    excluded — which also keeps ``novel_frac`` non-NULL, dodging the
    NaN-vs-NULL cross-engine float trap).  ``novel_frac`` is an exact
    int/int double division — bit-identical across engines, no
    rounding needed.
    """
    from pyspark import StorageLevel

    occ = (
        gram_occurrences(documents, SPAN_N)
        # two consumers (the MIN aggregate and the join-back probe)
        # shuffle on DIFFERENT keys, so the exchange can't be reused —
        # persist the gram table once instead of re-running the
        # scan+explode+distinct subplan per consumer (the same
        # one-materialization-many-reads shape as the MinHash
        # family's shingle table; MEMORY_AND_DISK spills, never OOMs)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    first = occ.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    out = (
        occ.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel_grams"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("novel_grams").cast("bigint").alias("novel_grams"),
            (
                F.col("novel_grams").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novel_frac"),
        )
    )
    return own_cache(out, occ)


HISTORY_FRAC = 0.8


def novelty_fraction_incremental(documents: DataFrame) -> DataFrame:
    """Incremental novelty — :func:`novelty_fraction` for the daily
    batch, probing the HISTORY's gram index instead of recomputing the
    corpus (the same O(new)-per-batch shape as
    :func:`incremental_minhash_pairs`): the oldest ``HISTORY_FRAC`` of
    documents (by doc_id — ingest order) plays the persisted corpus, the
    rest is the arriving batch.  A batch document owns a gram iff no
    history document contains it AND the document is the gram's first
    owner WITHIN the batch — which is exactly ``min(doc_id)`` over the
    whole corpus, so the result row-for-row equals the batch operator
    filtered to the new documents (asserted by test and by the oracle,
    which IS the batch SQL filtered).

    Plan shape at 100 TB:

    * the history index is the DISTINCT gram set — vocabulary-bounded,
      in production a stored table maintained by union, here derived
      once and persisted;
    * batch grams LEFT ANTI join the index on the gram key (one
      shuffle; the batch side is O(new), the index side is the
      vocabulary — never the corpus);
    * the surviving grams' first-in-batch MIN and the per-doc rollup
      are the batch operator's aggregates over O(new) rows.

    The split point is FLOOR(HISTORY_FRAC · max(doc_id)) computed as a
    1-row aggregate broadcast into both branches (FLOOR, not CAST:
    DuckDB rounds double→int casts while Spark truncates — FLOOR is
    exact in both).
    """
    from pyspark import StorageLevel

    occ = gram_occurrences(documents, SPAN_N)
    split = documents.agg(
        F.floor(F.lit(HISTORY_FRAC) * F.max("doc_id")).alias("split_id")
    )
    occ_split = occ.join(F.broadcast(split))
    hist_index = (
        occ_split.filter(F.col("doc_id") <= F.col("split_id"))
        .select("g")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    batch = occ_split.filter(F.col("doc_id") > F.col("split_id")).select(
        "doc_id", "g"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    fresh = batch.join(hist_index, "g", "left_anti")
    first_in_batch = fresh.groupBy("g").agg(
        F.min("doc_id").alias("first_doc")
    )
    out = (
        batch.join(first_in_batch, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("novel_grams"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("novel_grams").cast("bigint").alias("novel_grams"),
            (
                F.col("novel_grams").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novel_frac"),
        )
    )
    return own_cache(out, hist_index, batch)
