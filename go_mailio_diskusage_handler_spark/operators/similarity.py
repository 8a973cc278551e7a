"""[EXT] Similarity search over embedding columns (array<float>).

Two tiers, per the large-scale pipeline blueprint:

* **Brute-force cosine top-k** — the exactness baseline.  Queries are
  broadcast (a handful of vectors), so the big side streams through
  map-side with NO shuffle of the embedding table; per-query top-k is
  a partitioned window.  All vector math is built-in higher-order
  functions (``zip_with`` + ``aggregate``) — JVM-side, no Python UDF,
  no serialization of vectors across the Arrow boundary.
* **LSH-bucketed ANN** — the 100 TB path.  Random-hyperplane signs
  (SimHash-for-vectors) bucket each vector once; queries probe only
  their bucket, turning O(N·Q) into O(N/2^p·Q).  Hyperplanes use
  small-integer components in [-3, 3] derived from md5 (see
  :func:`hyperplane`), computed once in Python and embedded as
  literals in both the Spark plan and the DuckDB oracle, so
  dot-product signs are exactly reproducible (float×int in double is
  exact — no libm, no RNG state).

Cross-engine determinism: both engines fold the element-wise product
list left-to-right in double precision → bitwise-identical cosines;
ranking uses the 6-digit-rounded cosine with vec_id tie-break so
window order is stable everywhere.

Storage contract: the ANN operators ``persist`` their bucketed /
list-assigned corpus projection (it feeds both join sides) and tie
its lifetime to the RETURNED frame
(:func:`go_mailio_diskusage_handler_spark.caching.own_cache`): when
the consumer drops the result the cache releases automatically, and a
held handle keeps the index warm for re-querying — the in-session
analog of the production twin's materialized index table.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from go_mailio_diskusage_handler_spark.caching import own_cache
from go_mailio_diskusage_handler_spark.sources.tables import widen_for_compute

N_PLANES = 8  # 256 buckets per table
N_TABLES = 3  # independent hash tables OR-ed on the ANN path
EMB_DIM = 64
N_QUERIES = 8  # queries are vec_id < N_QUERIES
TOP_K = 5  # neighbors per query

# Multi-probe bucket masks: the query's own bucket, every Hamming-1
# flip, and every Hamming-2 flip.  A neighbor ≤ 2 planes away in SOME
# table is reached; with T independent tables the per-pair miss rate
# is (1 - p_h2)^T — measured recall@5 on the fixtures: 0.225 (round
# 3: one table of correlated planes, Hamming-1) → 0.475 (two
# independent tables, Hamming-2) → 0.65 (three tables).  37 masks ×
# N_TABLES probes per query, all against a broadcast query list — the
# corpus side is still touched once per table.
from itertools import combinations as _combinations

# H≤1 set for the SELF-join near-dup path: there both sides are the
# full corpus, so candidate volume scales with |masks|·bucket_size per
# vector — H≤2 masks measured 10 s vs 3.4 s at sf0.1 for recall
# 30/59 vs 20/59; the cheaper radius is the right default when the
# query side is O(N), with table count as the remaining recall lever.
PROBE_MASKS_H1 = [0] + [1 << p for p in range(N_PLANES)]

# Full H≤2 set for the query-driven ANN path, where only the handful
# of broadcast queries fan out and the probe budget is cheap.
PROBE_MASKS = PROBE_MASKS_H1 + [
    (1 << a) | (1 << b) for a, b in _combinations(range(N_PLANES), 2)
]

# H≤3 adds the 56 three-bit flips (93 masks total).
PROBE_MASKS_H3 = PROBE_MASKS + [
    (1 << a) | (1 << b) | (1 << c)
    for a, b, c in _combinations(range(N_PLANES), 3)
]

# Per-table probe budget for the query-driven ANN path.  The round-4
# config (3 tables × H≤2 = 111 probe rows) measured recall@5 0.65 at
# 3.3-3.7 s (sf0.1) — but the COST driver is table count, not probe
# count: each extra table re-buckets and re-scans the corpus (the
# probes are a broadcast).  Sweeping radius × tables on the fixtures:
#   [H2,H1,H1] 0.475      [H2,H2,H1] 0.550      [H3,H1,H1] 0.675
#   [H3,H2]    0.700 2.2s [H3,H2,H2] 0.825 3.1s [H3,H3]    0.800 3.6s
# Two tables at asymmetric [H≤3, H≤2] dominate: fewer corpus passes
# than any 3-table config, recall above every ≤111-row 3-table
# variant.  Remaining recall lever: append a table (cost ~+0.5 s
# each) or widen the second radius to H≤3 (recall 0.80 measured).
PROBE_MASKS_BY_TABLE = [PROBE_MASKS_H3, PROBE_MASKS]


def _to_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def const_array_lit(data: list, elem_type: str = "double") -> Column:
    """Nested-array constant built from ONE parsed JSON string literal
    instead of ``F.lit(nested_list)``.

    ``F.lit`` on a nested Python list builds the column as a tree of
    per-element py4j calls — ~1000 driver round-trips (measured 0.7-1.1 s
    of pure DRIVER time per codebook-sized [16][64] literal, r15 probe),
    paid inside the timed query-construction path on every invocation.
    ``from_json`` of one string literal is a single py4j call (~5 ms) and
    Catalyst constant-folds ``JsonToStructs(Literal)`` during
    optimization, so the executed plan carries the IDENTICAL folded
    array literal — values bit-exact (shortest-repr doubles round-trip
    through the JSON parser's correctly-rounded ``parseDouble``),
    pinned by test.  This is the guide-§7.3 "huge expression trees
    built in loops" driver-overhead class, fixed at the source.

    Falls back to ``F.lit`` when any value is non-finite (JSON cannot
    carry NaN/Inf) — impossible for the fixture codebooks, but the
    helper must not silently corrupt a pathological input.
    """
    import json as _json
    import math as _math

    def _all_finite(x) -> bool:
        if isinstance(x, (list, tuple)):
            return all(_all_finite(v) for v in x)
        return isinstance(x, (int, float)) and _math.isfinite(x)

    if not _all_finite(data):
        return F.lit(data)
    t = elem_type
    x = data
    while isinstance(x, (list, tuple)):
        t = f"array<{t}>"
        x = x[0] if len(x) else None
    return F.from_json(F.lit(_json.dumps(data)), t)


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (mirrors DuckDB list_sum of
    list_transform over range — identical fp summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def rounded_cosine(a: Column, a_nrm: Column, b: Column, b_nrm: Column) -> Column:
    """6-digit-rounded cosine from norms hoisted to one computation per
    VECTOR, so per pair only the cross dot product remains (3 array
    folds → 1).  Same expression tree as :func:`cosine` —
    bitwise-identical doubles, so the round can't diverge."""
    return F.round(dot(a, b) / (a_nrm * b_nrm), 6)


def top_per_query(
    scored: DataFrame, k: int, *order: Column, rank: str = "rank"
) -> DataFrame:
    """The first ``k`` rows of each ``query_id`` in ``order``, numbered
    from 1 in column ``rank``.  ``row_number`` needs a total order for
    a stable cut, so every caller ends ``order`` with an id."""
    w = Window.partitionBy("query_id").orderBy(*order)
    return scored.select("*", F.row_number().over(w).alias(rank)).filter(
        F.col(rank) <= k
    )


def brute_force_topk(
    embeddings: DataFrame, n_queries: int = 8, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Queries = vec_id < n_queries (a deterministic stand-in for an
    arbitrary broadcast query set).  Output:
    (query_id, neighbor_id, cos_sim, rank).
    """
    embeddings = widen_for_compute(embeddings)
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    e = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        l2_norm(F.col("embedding")).alias("n_nrm"),
    )
    scored = e.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        rounded_cosine(
            F.col("q_emb"), F.col("q_nrm"), F.col("n_emb"), F.col("n_nrm")
        ).alias("cos_sim"),
    )
    return top_per_query(scored, k, F.desc("cos_sim"), F.asc("neighbor_id"))


def filtered_topk(embeddings: DataFrame) -> DataFrame:
    """Metadata-filtered vector search: per query (``vec_id <
    N_QUERIES``), exact top-``TOP_K`` cosine among corpus vectors
    sharing the query's ``label`` — the class-conditional neighbor
    query every curation pipeline runs ("nearest docs of the same
    domain/language/cluster").

    The filter composes as a JOIN KEY, not a post-filter: label
    equality joins the broadcast query set against the corpus scan, so
    a candidate outside the query's class is never scored — with the
    corpus written partitioned by the filter column, partition pruning
    makes this touch ~1/|labels| of the data, where post-filtering the
    unfiltered top-k would both over-read and UNDER-RETURN (fewer than
    TOP_K survivors).  Same broadcast + window shape as
    :func:`brute_force_topk` otherwise.
    """
    embeddings = widen_for_compute(embeddings)
    q = embeddings.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    e = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("n_emb"),
        l2_norm(F.col("embedding")).alias("n_nrm"),
    )
    scored = (
        e.join(
            F.broadcast(q),
            (F.col("label") == F.col("q_label"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "label",
            rounded_cosine(
                F.col("q_emb"), F.col("q_nrm"), F.col("n_emb"), F.col("n_nrm")
            ).alias("cos_sim"),
        )
    )
    return top_per_query(scored, TOP_K, F.desc("cos_sim"), F.asc("neighbor_id"))


def hyperplane(p: int) -> list[float]:
    """Deterministic small-integer 'random' hyperplane p: each
    component is an md5-derived value in [-3, 3].

    md5 (not a linear congruence) on purpose: the previous formula
    ``(p*31 + c*17) % 7 - 3`` reduces to ``3(p+c) mod 7 - 3`` — it
    depends only on ``(p+c) mod 7``, so it yields just SEVEN distinct
    hyperplanes, all circular shifts of one another (plane 7 ≡ plane
    0), and the correlated projections capped multi-probe recall@5 at
    ≈0.22.  Hash-derived components are pairwise independent; the
    planes are computed ONCE in Python and embedded as literals in
    both the Spark plan and the DuckDB oracle, so determinism is free.
    """
    import hashlib

    return [
        float(int(hashlib.md5(f"{p}:{c}".encode()).hexdigest()[:8], 16) % 7 - 3)
        for c in range(EMB_DIM)
    ]


def bucket_id(emb: Column, table: int = 0) -> Column:
    """Pack sign(dot(v, plane_p)) bits into an int bucket id; hash
    table ``t`` uses the independent plane block ``[t*N_PLANES,
    (t+1)*N_PLANES)``.

    All N_PLANES hyperplanes ride in ONE nested-array literal scored
    by an indexed lambda (2^p contributions are exact in double up to
    2^52, far past any plausible plane count) — same
    literal-vs-unrolled-codegen tradeoff as the IVF codebook, measured
    2.2× at sf0.1 with bit-identical buckets."""
    planes = const_array_lit(
        [hyperplane(table * N_PLANES + p) for p in range(N_PLANES)]
    )
    contrib = F.transform(
        planes,
        lambda pl, i: F.when(
            dot(emb, pl) > 0, F.pow(F.lit(2.0), i.cast("double"))
        ).otherwise(F.lit(0.0)),
    )
    return F.aggregate(contrib, F.lit(0.0), lambda a, v: a + v).cast("int")


def lsh_buckets(embeddings: DataFrame) -> DataFrame:
    """vec_id → LSH bucket (one scan; widened, else no shuffle)."""
    return widen_for_compute(embeddings).select(
        "vec_id", bucket_id(F.col("embedding")).alias("bucket")
    )


def lsh_ann_topk(embeddings: DataFrame) -> DataFrame:
    """ANN top-``TOP_K`` of the ``N_QUERIES`` queries: independent hash
    tables (one per PROBE_MASKS_BY_TABLE entry) probed with an
    asymmetric budget — Hamming-≤3 in table 0, Hamming-≤2 in table 1;
    candidates are the UNION over tables, exact-cosine re-ranked.

    Two recall levers compose here.  Multi-probe: a near neighbor on
    the other side of up to h hyperplanes lands ≤ h bits away, so
    the mask set recovers those misses.  Multiple tables: a neighbor
    far apart in table 0 is an independent draw in table 1's plane
    block, so OR-ing tables turns per-table miss probability m into
    mᵀ.  Table count is the cost driver (each re-buckets and re-scans
    the corpus); probes are a broadcast and nearly free — hence few
    tables × wide radius (see PROBE_MASKS_BY_TABLE's measured sweep).

    Execution shape: the PROBE side is built on the driver — the
    N_QUERIES query vectors are point-looked-up (same tiny-collect
    pattern as the IVF codebook), their buckets computed in Python
    with the identical left-fold summation the JVM expression uses
    (bit-identical sign decisions), and the (table, bucket⊕mask)
    fan-out shipped as one small broadcast literal.  That leaves ONE
    distributed job: the corpus scan computes each vector's
    per-table bucket inline (each bucket expression evaluated once,
    in the same scan that feeds the join — no persist, no
    double-evaluation of the projection), explodes to (table,
    bucket) index rows, hash-joins the broadcast probes, and
    exact-reranks.  At 100 TB the corpus index is 'write bucketed
    parquet once per table'; per query only
    ~Σ_t|masks_t|·N/2^planes vectors are touched.  Within one table
    a neighbor matches exactly one mask (the mask IS the bucket
    xor), but a candidate can surface via both tables, so scored
    rows dedup before ranking — cos_sim is deterministic per pair,
    so distinct over the scored row is exact.
    """
    import math

    n_tables = len(PROBE_MASKS_BY_TABLE)
    spark = embeddings.sparkSession
    qrows = (
        embeddings.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    planes = [
        [hyperplane(t * N_PLANES + p) for p in range(N_PLANES)]
        for t in range(n_tables)
    ]

    def _fold_dot(u: list[float], v: list[float]) -> float:
        # Left-to-right double accumulation — the same fp summation
        # order as dot()'s F.aggregate fold, so sign(dot) and the
        # query norm are bit-identical to the JVM expressions.
        acc = 0.0
        for x, y in zip(u, v):
            acc += float(x) * float(y)
        return acc

    probe_rows = []
    for r in sorted(qrows, key=lambda row: row.vec_id):
        vec = [float(x) for x in r.embedding]
        nrm = math.sqrt(_fold_dot(vec, vec))
        for t in range(n_tables):
            b = 0
            for p in range(N_PLANES):
                if _fold_dot(vec, planes[t][p]) > 0:
                    b += 1 << p
            for mask in PROBE_MASKS_BY_TABLE[t]:
                probe_rows.append((r.vec_id, t, b ^ mask, vec, nrm))
    probes = spark.createDataFrame(
        probe_rows,
        "query_id long, t int, bucket int, q_emb array<double>, q_nrm double",
    )
    corpus = (
        widen_for_compute(embeddings)
        .select(
            "vec_id",
            "embedding",
            l2_norm(F.col("embedding")).alias("nrm"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("t"),
                            bucket_id(F.col("embedding"), table=t).alias("bucket"),
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("idx"),
        )
        .select("vec_id", "embedding", "nrm", "idx.t", "idx.bucket")
    )
    scored = (
        corpus.join(
            F.broadcast(probes),
            (corpus["t"] == probes["t"])
            & (corpus["bucket"] == probes["bucket"])
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            rounded_cosine(
                F.col("q_emb"), F.col("q_nrm"), F.col("embedding"), F.col("nrm")
            ).alias("cos_sim"),
        )
        .distinct()
    )
    return top_per_query(scored, TOP_K, F.desc("cos_sim"), F.asc("neighbor_id"))


N_CENTROIDS = 16
N_PROBE = 2
# ADC shortlist width for the exact re-rank tier.  Sweeping
# (n_probe, shortlist) on the fixtures:
#   (2,20) 0.700   (4,20) 0.575   (4,40) 0.800
#   (2,60) 0.925   (3,60) 0.925   (4,80) 0.925   (4,150) 0.925
# Two lessons: (a) widening n_probe at a FIXED shortlist can *lower*
# recall — extra lists add ADC-quantization-lucky candidates that
# crowd true neighbors out of the fixed-size shortlist; (b) the 0.70
# ceiling at shortlist=20 was shortlist truncation, not the coarse
# quantizer (n_probe=2 reaches 0.925 untouched once the shortlist
# admits rank-21..60 ADC candidates).  Cost of the wider shortlist is
# only N_QUERIES×shortlist exact point lookups — corpus-independent.
RERANK_SHORTLIST = 60


def _codebook_lit(embeddings: DataFrame) -> Column:
    """Load the coarse codebook (first N_CENTROIDS vectors, cid =
    position) onto the driver and rebind it as ONE nested-array
    literal (`array<array<double>>`).  A production IVF trains this
    codebook offline with k-means and broadcasts it the same way —
    KBs regardless of corpus size; determinism here makes the
    assignment oracle-checkable.

    One literal + one lambda, NOT N_CENTROIDS inline dot expressions:
    a nested literal is a single object reference in generated code,
    while 16 unrolled CreateArray(64 literals) folds made whole-stage
    codegen multi-second to compile and ~2× slower to run (measured
    1.66 s → 0.91 s per assignment pass at sf0.1) — and the literal
    form scales to 1024-centroid codebooks where unrolled codegen
    would blow the JIT method limit.
    """
    rows = (
        embeddings.filter(F.col("vec_id") < N_CENTROIDS)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    return const_array_lit([[float(x) for x in r[0]] for r in rows])


def _best_lists(emb_col: Column, nrm_col: Column, codebook: Column, n: int) -> Column:
    """Array of the n list-ids whose centroids have the highest cosine
    to ``emb_col`` (6-digit-rounded cosine, cid tie-break) — one
    transform lambda over the codebook literal, then sort_array over
    (cos, -cid) structs, fully JVM-side."""
    scored = F.transform(
        codebook,
        lambda c, i: F.struct(
            rounded_cosine(emb_col, nrm_col, c, l2_norm(c)).alias("cs"),
            (-i).alias("ncid"),
        ),
    )
    top = F.slice(F.sort_array(scored, asc=False), 1, n)
    return F.transform(top, lambda s: -s["ncid"])


def ivf_assignments(embeddings: DataFrame) -> DataFrame:
    """IVF coarse quantization: vec_id → inverted-list id (argmax
    cosine over the codebook).  One scan, no shuffle; at 100 TB this
    is the partitioning column the corpus gets written out by, so ANN
    probes touch only ~n_probe/n_lists of the data."""
    cents = _codebook_lit(embeddings)
    nrm = l2_norm(F.col("embedding"))
    return widen_for_compute(embeddings).select(
        "vec_id",
        _best_lists(F.col("embedding"), nrm, cents, 1)[0].alias("list_id"),
    )


def ivf_ann_topk(embeddings: DataFrame) -> DataFrame:
    """IVF-flat ANN: probe the N_PROBE nearest inverted lists of each of
    the ``N_QUERIES`` queries, exact-cosine rerank to the top ``TOP_K``.

    Complements the hyperplane-LSH path: buckets follow the data
    distribution (codebook) instead of random projections.  Probe
    fan-out is a broadcast of (query, list_id) pairs; the corpus side
    is touched once, filtered by its precomputed list assignment.
    """
    cents = _codebook_lit(embeddings)
    nrm = l2_norm(F.col("embedding"))
    # One shared scored-corpus plan: every row carries its N_PROBE best
    # lists; the corpus side keeps lists[0] (its assignment), the probe
    # side explodes all of them.  Building corpus and probes from
    # SEPARATE _best_lists expressions made Spark compile the codebook
    # scoring codegen twice — measured 4× slower end-to-end at sf0.1
    # for identical results.
    scored_corpus = widen_for_compute(embeddings).select(
        "vec_id",
        "embedding",
        nrm.alias("nrm"),
        _best_lists(F.col("embedding"), nrm, cents, N_PROBE).alias("lists"),
    )
    # Corpus and probes both execute this subplan; persisting runs the
    # heavy codebook scoring once (3.9× at sf0.1) — and mirrors the
    # production shape, where list assignments are written out with the
    # corpus rather than recomputed per query batch.
    scored_corpus = scored_corpus.persist(StorageLevel.MEMORY_AND_DISK)
    corpus = scored_corpus.select(
        "vec_id", "embedding", "nrm", F.col("lists")[0].alias("list_id")
    )
    probes = (
        scored_corpus.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.explode("lists").alias("list_id"),
        )
    )
    # A corpus vector lives in exactly one list and a query's probe
    # lists are distinct, so (query, neighbor) pairs are unique — no
    # dedup needed after the join.
    scored = (
        corpus.alias("c")
        .join(
            F.broadcast(probes.alias("p")),
            (F.col("c.list_id") == F.col("p.list_id"))
            & (F.col("c.vec_id") != F.col("p.query_id")),
        )
        .select(
            "query_id",
            F.col("c.vec_id").alias("neighbor_id"),
            rounded_cosine(
                F.col("p.q_emb"), F.col("p.q_nrm"), F.col("c.embedding"), F.col("c.nrm")
            ).alias("cos_sim"),
        )
    )
    out = top_per_query(scored, TOP_K, F.desc("cos_sim"), F.asc("neighbor_id"))
    return own_cache(out, scored_corpus)


NEAR_DUP_MIN_COS = 0.4


def embedding_near_dup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-dup: multi-table multi-probe bucket join
    (LSH) then exact-cosine verify ≥ ``NEAR_DUP_MIN_COS``.  The n² risk is
    confined to Hamming-≤2 bucket pairs per table; at scale, raise
    N_PLANES to shrink buckets.

    Same table structure as :func:`lsh_ann_topk` — N_TABLES
    independent plane blocks — but probed over PROBE_MASKS_H1 only:
    in this SELF-join both sides are the corpus, so each extra mask
    costs O(N·bucket_size) candidates (measured 10 s vs 3.4 s at
    sf0.1 for H≤2 vs H≤1).  Measured recall of true cos ≥ 0.4
    pairs: 3/59 (single correlated table, exact-bucket) → 15/59
    (+Hamming-1 probes) → 20/59 (independent planes × 3 tables,
    Hamming-1); chase the tail by raising N_TABLES, not the radius.
    Within one table a pair matches exactly one mask (the mask is
    the bucket xor), but up to N_TABLES times across tables — hence
    the distinct on the scored output (cos_sim is deterministic per
    pair, so distinct over the full row is exact).

    The bucketed projection (N_TABLES×N_PLANES hyperplane dots + norm
    per vector) feeds both sides of the self-join and Spark does not
    reuse the exchange — persisting computes it once (measured 9× at
    sf0.1)."""
    withb = widen_for_compute(embeddings).select(
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        *[
            bucket_id(F.col("embedding"), table=t).alias(f"b{t}")
            for t in range(N_TABLES)
        ],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    index_entries = F.array(
        *[
            F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bucket"))
            for t in range(N_TABLES)
        ]
    )
    probe_entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.col(f"b{t}").bitwiseXOR(F.lit(mask)).alias("bucket"),
            )
            for t in range(N_TABLES)
            for mask in PROBE_MASKS_H1
        ]
    )
    a = withb.select(
        "vec_id", "embedding", "nrm", F.explode(probe_entries).alias("probe")
    ).alias("a")
    b = withb.select(
        "vec_id", "embedding", "nrm", F.explode(index_entries).alias("idx")
    ).alias("b")
    out = (
        a.join(
            b,
            (F.col("a.probe.t") == F.col("b.idx.t"))
            & (F.col("a.probe.bucket") == F.col("b.idx.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            rounded_cosine(
                F.col("a.embedding"), F.col("a.nrm"), F.col("b.embedding"), F.col("b.nrm")
            ).alias("cos_sim"),
        )
        .distinct()
        .filter(F.col("cos_sim") >= NEAR_DUP_MIN_COS)
    )
    return own_cache(out, withb)


PQ_M = 8  # subspaces (dim 64 → 8 sub-vectors of 8)
PQ_K = 16  # centroids per subspace (codes fit a nibble)
PQ_SUB = EMB_DIM // PQ_M


def _l2sq(a: Column, b: Column) -> Column:
    """Sequential-fold squared L2 distance in double (same summation
    order as DuckDB list_sum over list_transform)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_codes(embeddings: DataFrame) -> DataFrame:
    """Product quantization: each vector → PQ_M nibble codes.

    The third leg of the vector-compression tier (int8 keeps 1 byte/
    dim, IVF keeps a coarse cell id; PQ keeps M sub-vector codes —
    here 8 codes × 4 bits = 4 bytes per 256-byte vector, 64×).  At
    100 TB the PQ codes live in memory next to the IVF lists and
    candidate distances are table lookups (ADC); exact re-ranking
    touches only the winners' full vectors.

    Deterministic codebook as in :func:`_codebook_lit`: subspace m's
    K centroids are the m-th slices of the first K corpus vectors,
    bound as one nested literal per subspace.  Code = argmin squared
    L2 (6-digit rounding, centroid-id tie-break) via ``array_min``
    over (distance, cid) structs — struct ordering IS the tie-break,
    fully JVM-side.  Output is (vec_id, subspace, code) rows via
    posexplode, one scan, no shuffle.
    """
    cb = const_array_lit(_pq_codebook(embeddings))  # [M][K][SUB], ONE literal
    return widen_for_compute(embeddings).select(
        "vec_id",
        F.posexplode(_pq_code_array(F.col("embedding"), cb)).alias(
            "subspace", "code"
        ),
    )


def _pq_code_array(emb: Column, cb: Column) -> Column:
    """PQ_M-element code array for one embedding against the ``cb``
    codebook literal — argmin squared L2 per subspace, centroid-id
    tie-break via struct ordering.

    One nested indexed lambda, not PQ_M unrolled literal+transform
    blocks: same argmin math bit-for-bit, but codegen compiles one
    loop body instead of 8 — measured 4.8 s → 1.9 s per encoding
    pass at sf0.1 (the IVF _codebook_lit lesson, applied twice).
    """
    emb_d = _to_double(emb)
    return F.transform(
        cb,
        lambda subcents, m: F.array_min(
            F.transform(
                subcents,
                lambda c, j: F.struct(
                    F.round(_l2sq(F.slice(emb_d, m * PQ_SUB + 1, PQ_SUB), c), 6)
                    .alias("d"),
                    j.alias("cid"),
                ),
            )
        )["cid"],
    )


def pq_ann_topk(embeddings: DataFrame) -> DataFrame:
    """PQ ANN via asymmetric distance computation (ADC).

    The query side never quantizes: per query, a distance table
    ``dt[m][j] = ||q_sub_m - centroid[m][j]||²`` (PQ_M × PQ_K entries,
    built as JVM expressions over the codebook literal); a corpus
    vector's approximate distance is then ``Σ_m dt[m][code_m]`` —
    table lookups against 4-byte codes, never the full vectors.  At
    100 TB that is the point of PQ: the scan touches codes (64× small)
    and the per-query table is KBs broadcast to every executor.

    Plan shape: codes (one row per vec × subspace, from
    :func:`pq_codes`) ⋈ broadcast dt on (subspace, code) → partial-agg
    sum per (query, vec) → per-query top-k window.  Per-entry
    distances round to 6 digits and the 8-entry sum to 4 (both
    engines), so group-sum order can't flip the cross-engine hash.
    """
    dt = _adc_tables(embeddings)
    codes = pq_codes(embeddings)
    scored = (
        codes.join(F.broadcast(dt), ["subspace", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 4).alias("approx_dist"))
    )
    return top_per_query(scored, TOP_K, F.asc("approx_dist"), F.asc("neighbor_id"))


def _adc_tables(embeddings: DataFrame, cb: Column | None = None) -> DataFrame:
    """Per-query ADC distance tables: (query_id, subspace, code, d)
    rows, ``d = ||q_sub - centroid||²`` rounded to 6 — PQ_M × PQ_K
    entries per query, built as JVM expressions over the codebook
    literal and broadcast to the scoring join.  ``cb`` lets a caller
    that already holds the codebook literal share it — the standalone
    collect-and-rebuild here cost one extra driver job per IVF-PQ
    query for the identical constant."""
    if cb is None:
        cb = const_array_lit(_pq_codebook(embeddings))  # [M][K][SUB] doubles
    queries = embeddings.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), _to_double(F.col("embedding")).alias("q")
    )
    entries = F.flatten(
        F.transform(
            cb,
            lambda subcents, m: F.transform(
                subcents,
                lambda cvec, j: F.struct(
                    m.alias("subspace"),
                    j.alias("code"),
                    F.round(_l2sq(F.slice(F.col("q"), m * PQ_SUB + 1, PQ_SUB), cvec), 6)
                    .alias("d"),
                ),
            ),
        )
    )
    return queries.select("query_id", F.explode(entries).alias("e")).select(
        "query_id", "e.subspace", "e.code", "e.d"
    )


def _ivfpq_adc_scored(embeddings: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, approx_dist) for every candidate in the
    queries' probed IVF lists, scored by PQ ADC — the shared core of
    :func:`ivfpq_ann_topk` (ADC order as final) and
    :func:`ivfpq_rerank_topk` (exact re-rank of the ADC shortlist).

    ``N_PROBE`` only widens the QUERY side's probed lists; the corpus
    assignment is always ``lists[0]``."""
    cents = _codebook_lit(embeddings)
    cb = const_array_lit(_pq_codebook(embeddings))
    nrm = l2_norm(F.col("embedding"))
    # ONE corpus projection carries the coarse-list assignment AND the
    # PQ code array: computing codes in the same scan removes the old
    # codes⋈assign join — pq_codes' posexplode made that an 8N-row
    # SHUFFLE join against the N-row assignment table, the only
    # non-broadcast join in the family and the piece that would
    # dominate at 100 TB (at fixture scale the family is fixed-
    # overhead-bound, so the local bench moves little; the projection
    # itself measures 0.8 s of the ~4 s total).  The explode to
    # (subspace, code) rows now happens AFTER probe pruning, on
    # candidates only — which is also the production layout: codes and
    # list ids are written zipped with the corpus, never joined.
    scored_corpus = (
        widen_for_compute(embeddings)
        .select(
            "vec_id",
            nrm.alias("nrm"),
            _best_lists(F.col("embedding"), nrm, cents, N_PROBE).alias("lists"),
            _pq_code_array(F.col("embedding"), cb).alias("codes"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    probes = scored_corpus.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.explode("lists").alias("list_id")
    )
    cand = (
        scored_corpus.select(
            "vec_id", F.col("lists")[0].alias("list_id"), "codes"
        )
        .join(F.broadcast(probes), "list_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id", F.posexplode("codes").alias("subspace", "code")
        )
    )
    out = (
        cand.join(F.broadcast(_adc_tables(embeddings, cb)),
                  ["query_id", "subspace", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.round(F.sum("d"), 4).alias("approx_dist"))
    )
    return own_cache(out, scored_corpus)


def ivfpq_ann_topk(embeddings: DataFrame) -> DataFrame:
    """IVF probe pruning × PQ ADC scoring — the production ANN stack.

    The coarse quantizer bounds WHICH vectors get scored (only the
    N_PROBE probed lists' members, ~n_probe/n_lists of the corpus);
    PQ bounds HOW each candidate is scored (distance-table lookups on
    4-byte codes).  At 100 TB the scoring join touches list ids and
    codes only — full vectors never leave storage.  ADC distance is
    the final order here; :func:`ivfpq_rerank_topk` adds the exact
    re-rank tier a deployment runs on top.
    """
    scored = _ivfpq_adc_scored(embeddings)
    out = top_per_query(scored, TOP_K, F.asc("approx_dist"), F.asc("neighbor_id"))
    # Transfer scored_corpus's cache ownership to the RETURNED frame:
    # without it the owner (``scored``) dies at function exit and the
    # persist is released before the first action — the query then
    # re-inlines the corpus projection per consumer, with the inferred
    # isnotnull(lists[0]) filter pushed into the (serial, one-split)
    # base scan re-evaluating the whole codebook scoring per row
    # (measured r15: a 1.4 s single-task stage).  The module's
    # documented derivation hazard, hit inside the operator itself.
    return own_cache(out, absorb=[scored])


def ivfpq_rerank_topk(embeddings: DataFrame) -> DataFrame:
    """IVF×PQ ADC shortlist → EXACT cosine re-rank — the full
    production ANN output stage.

    ADC distance is quantized (PQ error dominates on unstructured
    vectors — recall@5 ≈ 0.2 when it is the final order), so
    deployments keep the cheap ADC pass for candidate *selection*
    (top-``RERANK_SHORTLIST`` per query) and re-rank only that
    shortlist against the true vectors.  Cost at 100 TB: the corpus-wide
    work is still codes-only; exactly ``N_QUERIES × RERANK_SHORTLIST`` full
    vectors are fetched for the re-rank (a broadcast-joined point
    lookup against the vector store), so the exact tier's cost is
    independent of corpus size.  Measured recall@5 on the fixtures:
    0.20 (ADC order) → 0.70 (shortlist=20) → 0.925 (shortlist=60,
    RERANK_SHORTLIST) — the old ceiling was the SHORTLIST truncating
    ADC-misranked true neighbors, not the coarse quantizer; see
    RERANK_SHORTLIST's sweep, including why n_probe at fixed
    shortlist moves recall the wrong way.
    """
    scored = _ivfpq_adc_scored(embeddings)
    short = top_per_query(
        scored, RERANK_SHORTLIST, F.asc("approx_dist"), F.asc("neighbor_id"),
        rank="srank",
    ).select("query_id", "neighbor_id")
    q = embeddings.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    # The shortlist (N_QUERIES × RERANK_SHORTLIST rows) broadcasts to the
    # corpus scan; only matching vectors compute the exact cosine.
    exact = (
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("n_emb"),
            l2_norm(F.col("embedding")).alias("n_nrm"),
        )
        .join(F.broadcast(short), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            rounded_cosine(
                F.col("q_emb"), F.col("q_nrm"), F.col("n_emb"), F.col("n_nrm")
            ).alias("cos_sim"),
        )
    )
    out = top_per_query(exact, TOP_K, F.desc("cos_sim"), F.asc("neighbor_id"))
    # Same ownership transfer as ivfpq_ann_topk (see the note there).
    return own_cache(out, absorb=[scored])


def _pq_codebook(embeddings: DataFrame) -> list[list[list[float]]]:
    """[M][K][SUB] nested codebook: subspace m's centroids are the
    m-th slices of the first PQ_K corpus vectors (see pq_codes)."""
    rows = (
        embeddings.filter(F.col("vec_id") < PQ_K)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    full = [[float(x) for x in r[0]] for r in rows]
    return [
        [v[m * PQ_SUB : (m + 1) * PQ_SUB] for v in full] for m in range(PQ_M)
    ]


def quantize_embeddings_int8(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x|/127,
    q_i = floor(x_i/scale + 0.5) — 4× smaller embedding storage with
    ~0.3% cosine error at dim 64, the standard shrink before writing
    a 100 TB corpus' vectors out (dequantize: x ≈ q·scale).

    Engine-portable on purpose: floor(v + 0.5) instead of ROUND —
    round() is half-even in some engines and half-away in others,
    which would let a single element flip the whole array hash.  All
    math in double after exact float→double widening; one narrow
    projection, no shuffle.
    """
    absmax = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
    # Zero-guard: an all-zero embedding has absmax 0, and dividing by a
    # zero scale would send NaN/Infinity through floor→cast (null qvec
    # entries).  Emit scale 0 and an all-zero qvec instead (dequantize
    # q·scale still reproduces the zero vector exactly).
    scale = (
        F.when(absmax == 0, F.lit(0.0))
        .otherwise(absmax.cast("double") / F.lit(127.0))
        .alias("scale")
    )
    qvec = F.transform(
        F.col("embedding"),
        lambda x: F.when(scale == 0, F.lit(0))
        .otherwise(F.floor(x.cast("double") / scale + F.lit(0.5)))
        .cast("int"),
    )
    return widen_for_compute(embeddings).select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        qvec.alias("qvec"),
    )


MMR_LAMBDA = 0.7
MMR_SHORTLIST = 15
MMR_K = 5


def mmr_rerank_topk(
    embeddings: DataFrame, k: int = MMR_K, lam: float = MMR_LAMBDA
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily select
    candidates maximizing ``λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`` —
    the standard de-redundancy re-rank for retrieval-augmented
    training-data selection (near-identical neighbors add no signal;
    MMR trades a little relevance for coverage).

    Scale shape: the GREEDY is inherently sequential, so it runs where
    sequential is free — per query, over a bounded shortlist.  All
    vector math stays in JVM expressions: relevance comes from the
    exact top-``MMR_SHORTLIST`` tier and the shortlist×shortlist
    pairwise sims from a query-keyed self-join (≤ MMR_SHORTLIST² rows
    per query, corpus-independent).  The Arrow-batched ``applyInPandas``
    step then does only O(k·MMR_SHORTLIST) float compares per query — no dot
    products in Python, so engine/oracle fp agreement reduces to IEEE
    arithmetic on the SAME rounded inputs.  At 100 TB the shortlist
    tier is the ANN stack; the MMR cost never grows with the corpus.
    """
    import pandas as pd

    cand = brute_force_topk(embeddings, N_QUERIES, MMR_SHORTLIST).select(
        "query_id", "neighbor_id", F.col("cos_sim").alias("rel")
    )
    e = widen_for_compute(embeddings).select(
        "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    a = cand.alias("a")
    b = cand.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.query_id"))
            & (F.col("a.neighbor_id") != F.col("b.neighbor_id")),
        )
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.neighbor_id").alias("cand_id"),
            F.col("a.rel").alias("rel"),
            F.col("b.neighbor_id").alias("other_id"),
        )
        .join(
            e.select(
                F.col("vec_id").alias("cand_id"),
                F.col("embedding").alias("c_emb"),
                F.col("nrm").alias("c_nrm"),
            ),
            "cand_id",
        )
        .join(
            e.select(
                F.col("vec_id").alias("other_id"),
                F.col("embedding").alias("o_emb"),
                F.col("nrm").alias("o_nrm"),
            ),
            "other_id",
        )
        .select(
            "query_id",
            "cand_id",
            "rel",
            "other_id",
            rounded_cosine(
                F.col("c_emb"), F.col("c_nrm"), F.col("o_emb"), F.col("o_nrm")
            ).alias("pair_sim"),
        )
    )

    out_schema = "query_id long, neighbor_id long, mmr_rank int, mmr_score double"

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {}
        sim = {}
        for row in pdf.itertuples(index=False):
            rel[int(row.cand_id)] = float(row.rel)
            sim[(int(row.cand_id), int(row.other_id))] = float(row.pair_sim)
        remaining = sorted(rel)
        selected: list[int] = []
        out = []
        while remaining and len(selected) < k:
            best_id, best_score = None, None
            for c in remaining:  # ascending id = deterministic tie-break
                penalty = max((sim[(c, s)] for s in selected), default=0.0)
                score = lam * rel[c] - (1.0 - lam) * penalty
                if best_score is None or score > best_score:
                    best_id, best_score = c, score
            selected.append(best_id)
            remaining.remove(best_id)
            out.append((qid, best_id, len(selected), best_score))
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "mmr_rank", "mmr_score"]
        )

    # mmr_score stays an UNROUNDED double: both engines compute it from
    # identical rounded-6 inputs with identical IEEE ops, so the raw
    # values are bit-equal — while a final ROUND(·, 6) would sit right
    # on decimal half-boundaries (0.7×6-digit rel has 7 digits) where
    # HALF_UP (Spark) and double-nearest (DuckDB) disagree.
    return pairs.groupBy("query_id").applyInPandas(_greedy, out_schema)


RRF_K = 60
RRF_TOPK = 5
RRF_POOL = 20
RRF_QUERIES = 4


def rrf_hybrid_topk(documents: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: a LEXICAL ranking
    (n-gram Jaccard over the df-capped shingle join) and a VECTOR
    ranking (exact cosine) are fused per query as
    ``Σ 1/(RRF_K + rank)`` — the standard multi-retriever combination
    (rank-based, so the two scoring scales never need calibrating).

    Scale shape: both rank lists are per-query top-``RRF_POOL`` — the
    lexical side probes the shingle index with only the query docs'
    shingles (probe-side bounded, same fence as incremental dedup),
    the vector side is the exact tier (swap in the ANN stack at
    corpus scale) — and the fusion is a FULL OUTER join of two
    (RRF_QUERIES × RRF_POOL)-row lists: query-bounded, corpus-independent.
    Fused scores are sums of exact reciprocals of small ints —
    bit-identical across engines; ties share identical rank pairs and
    break on candidate id.
    """
    from go_mailio_diskusage_handler_spark.operators import dedup

    docs = widen_for_compute(documents)
    sh = dedup.capped_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    probe = sh.filter(F.col("doc_id") < RRF_QUERIES)
    inter = (
        sh.alias("c")
        .join(
            probe.alias("q"),
            (F.col("c.shingle") == F.col("q.shingle"))
            & (F.col("c.doc_id") != F.col("q.doc_id")),
        )
        .groupBy(
            F.col("q.doc_id").alias("query_id"),
            F.col("c.doc_id").alias("cand_id"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        inter.join(sizes.alias("zq"), F.col("query_id") == F.col("zq.doc_id"))
        .join(sizes.alias("zc"), F.col("cand_id") == F.col("zc.doc_id"))
        .select(
            "query_id",
            "cand_id",
            (
                F.col("inter")
                / (F.col("zq.n_sh") + F.col("zc.n_sh") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    text_ranks = top_per_query(
        jac, RRF_POOL, F.desc("jaccard"), F.asc("cand_id"), rank="rank_t"
    ).select("query_id", "cand_id", "rank_t")
    vec_ranks = (
        brute_force_topk(embeddings, RRF_QUERIES, RRF_POOL)
        .select(
            "query_id",
            F.col("neighbor_id").alias("cand_id"),
            F.col("rank").alias("rank_v"),
        )
    )
    t, v = text_ranks.alias("t"), vec_ranks.alias("v")
    fused = (
        t.join(
            v,
            (F.col("t.query_id") == F.col("v.query_id"))
            & (F.col("t.cand_id") == F.col("v.cand_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("t.query_id"), F.col("v.query_id")).alias(
                "query_id"
            ),
            F.coalesce(F.col("t.cand_id"), F.col("v.cand_id")).alias("cand_id"),
            (
                F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("rank_t")), F.lit(0.0)
                )
                + F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("rank_v")), F.lit(0.0)
                )
            ).alias("rrf_score"),
        )
    )
    out = top_per_query(
        fused, RRF_TOPK, F.desc("rrf_score"), F.asc("cand_id"), rank="fused_rank"
    )
    return own_cache(out, sh)


# ---------------------------------------------------------------------------
# [EXT] Distributed k-means training (Lloyd's algorithm)
# ---------------------------------------------------------------------------
KM_K = 8
KM_ITERS = 2
KM_N_PROBE = 2


def _km_cells(cents: list[tuple[int, list[float]]]) -> Column:
    """Per row, one ``(d, cid)`` struct per centroid: the 6-digit-rounded
    squared L2 from column ``v`` to the centroid, over the broadcast
    centroid literals.  Sorting the array orders cells by distance,
    cid tie-break."""
    cid_lit = const_array_lit([c for c, _ in cents], "int")
    vec_lit = const_array_lit([v for _, v in cents])
    return F.transform(
        vec_lit,
        lambda c, i: F.struct(
            F.round(_l2sq(F.col("v"), c), 6).alias("d"),
            F.element_at(cid_lit, i + 1).alias("cid"),
        ),
    )


def _km_assign(
    e: DataFrame,
    cents: list[tuple[int, list[float]]],
    *,
    keep_vec: bool = False,
) -> DataFrame:
    """One Lloyd assignment pass: argmin squared-L2 over
    :func:`_km_cells`, cid tie-break.  Distances are 6-digit-rounded
    BEFORE the argmin in both engines, so a cross-engine fp divergence
    at an assignment boundary would need two centroids within 1e-6 of
    exactly equidistant."""
    best = F.array_min(_km_cells(cents))
    cols = [
        F.col("vec_id"),
        best["cid"].alias("cluster_id"),
        best["d"].alias("dist_sq"),
    ]
    if keep_vec:
        cols.append(F.col("v"))
    return e.select(*cols)


def kmeans_train(
    embeddings: DataFrame, k: int = KM_K, iters: int = KM_ITERS
) -> DataFrame:
    """Train a k-means codebook with Lloyd's algorithm, fully
    distributed, and return the final per-vector assignment
    (vec_id, cluster_id, dist_sq).

    This is the trainer for the codebook the IVF/PQ stack broadcasts
    (:func:`_codebook_lit` loads a deterministic stand-in; a real
    deployment trains it here).  Per iteration:

    * **assignment** is a pure map — centroids broadcast as ONE nested
      literal (KBs at any corpus size), argmin inside whole-stage
      codegen, no shuffle, no Python;
    * **update** shuffles only (cluster_id, dim, partial-sum) — the
      posexplode is k·dim-bounded after map-side combine, never
      corpus-bounded — and the new k×dim centroid table collects to
      the driver (the same ≤KB object the next pass broadcasts).

    Determinism contract for the oracle: init = the k lowest vec_ids
    (cid = vec_id), fixed ``iters``, centroid means and distances
    rounded to 6 digits each round in BOTH engines, ties on cid.
    Empty clusters drop out of the codebook in both engines (standard
    Lloyd behavior without re-seeding).  At 100 TB you raise k, not
    the collect size: 65 536 × 64 doubles is still ~34 MB — driver-
    and broadcast-friendly.
    """
    e, cents = _km_fit(embeddings, k, iters)
    return own_cache(_km_assign(e, cents), e)


def _km_fit(
    embeddings: DataFrame, k: int, iters: int
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Run the Lloyd loop; return the (persisted) doubled-vector frame
    and the trained centroids."""
    e = widen_for_compute(embeddings).select(
        "vec_id", _to_double(F.col("embedding")).alias("v")
    )
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["v"]])
        for r in e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    if not cents:
        raise ValueError(
            f"k-means init found no vectors with vec_id < {k}: "
            "cannot seed centroids from an empty/renumbered corpus"
        )
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    for _ in range(iters):
        # The assignment keeps the vector column inline — no join back
        # to the corpus; the only exchange is the k·dim-bounded
        # partial-mean shuffle below.
        assign = _km_assign(e, cents, keep_vec=True)
        rows = (
            assign.select("cluster_id", F.posexplode("v").alias("i", "x"))
            .groupBy("cluster_id", "i")
            .agg(F.round(F.avg("x"), 6).alias("val"))
            .groupBy("cluster_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("i", "val"))).alias("s")
            )
            .select(
                "cluster_id",
                F.transform("s", lambda s: s["val"]).alias("v"),
            )
            .collect()
        )
        cents = sorted(
            (int(r["cluster_id"]), [float(x) for x in r["v"]]) for r in rows
        )
    return e, cents


def kmeans_ivf_topk(embeddings: DataFrame) -> DataFrame:
    """End-to-end TRAINED IVF: Lloyd-fit the codebook
    (:func:`kmeans_train`'s loop), assign the corpus, then answer ANN
    queries by probing the ``KM_N_PROBE`` nearest trained cells and
    exact-L2² re-ranking inside them — the trainer→index integration
    a production vector pipeline runs, where :func:`ivf_ann_topk`'s
    deterministic stand-in codebook is replaced by a fitted one.

    Same scale anatomy as the rest of the IVF stack: centroids are a
    broadcast literal at any corpus size, the corpus is touched once
    (its cell assignment is the partition key the index would be
    written by), probes are a tiny broadcast, and only candidates in
    probed cells get exact distances.  L2 metric end-to-end so the
    ranking is consistent with the trainer's objective.
    """
    e, cents = _km_fit(embeddings, KM_K, KM_ITERS)
    assign = _km_assign(e, cents).select("vec_id", "cluster_id")
    probes = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(
                F.slice(F.array_sort(_km_cells(cents)), 1, KM_N_PROBE)
            ).alias("cell"),
        )
        .select("query_id", "qv", F.col("cell.cid").alias("cluster_id"))
    )
    cand = assign.join(F.broadcast(probes), "cluster_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    ranked = (
        cand.join(e, "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_l2sq(F.col("qv"), F.col("v")), 6).alias("dist_sq"),
        )
    )
    out = top_per_query(
        ranked, TOP_K, F.col("dist_sq").asc(), F.col("neighbor_id").asc()
    )
    return own_cache(out, e)


RANGE_MIN_COS = 0.3


def range_search(embeddings: DataFrame) -> DataFrame:
    """Radius (range) search: ALL corpus vectors within cosine ≥
    ``RANGE_MIN_COS`` of each query — the fixed-threshold retrieval API
    (dedup sweeps, compliance "find everything similar" queries) that
    top-k cannot express when the true neighbor count varies per
    query.  Same broadcast-query scan shape as
    :func:`brute_force_topk`; at corpus scale the LSH/IVF candidate
    tiers slot in front exactly as they do for top-k, with the
    threshold as the verify predicate.
    """
    embeddings = widen_for_compute(embeddings)
    q = embeddings.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    e = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        l2_norm(F.col("embedding")).alias("n_nrm"),
    )
    return (
        e.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            rounded_cosine(
                F.col("q_emb"), F.col("q_nrm"), F.col("n_emb"), F.col("n_nrm")
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= RANGE_MIN_COS)
    )


def kmeans_cluster_stats(embeddings: DataFrame) -> DataFrame:
    """Per-cluster training diagnostics over the fitted assignment:
    member count, mean and max squared distance to the centroid
    (inertia contribution and radius) — the report that says whether
    k is too small (huge radii), too big (starved cells), or the init
    degenerate (empty cells dropped).  Pure aggregation over
    :func:`kmeans_train`'s output; |k|-bounded result.
    """
    a = kmeans_train(embeddings)
    out = a.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.round(F.avg("dist_sq"), 4).alias("mean_dist_sq"),
        F.round(F.max("dist_sq"), 4).alias("max_dist_sq"),
    )
    return own_cache(out, absorb=[a])


SEMDEDUP_THRESHOLD = 0.4
SEMDEDUP_WINDOW = 8


def semantic_dedup(embeddings: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): cluster the corpus with the Lloyd trainer, then look for
    near-duplicate pairs ONLY between cluster-mates that sit within
    ``SEMDEDUP_WINDOW`` positions of each other in the cell's
    centroid-distance order — near-identical vectors have
    near-identical centroid distances, so true duplicates land on
    adjacent ranks while the candidate count stays O(N·window)
    however large a cell grows (the all-pairs form is O(cell²), which
    no k keeps bounded against a skewed cell).  A vector is dropped
    (``kept = false``) when some in-window cluster-mate with a
    SMALLER rank is cosine-``SEMDEDUP_THRESHOLD``-close — greedy
    keep-first-by-rank, deterministic on (dist_sq, vec_id).

    Scale anatomy: Lloyd's passes are the trainer's (broadcast
    centroid literal, k·dim-bounded update shuffle); the rank window
    shuffles once on cluster_id; the candidate self-join is rank-
    banded so it is corpus-LINEAR.  Cell count (``KM_K``) and window
    are both independent of corpus size: SemDeDup used ~100k clusters
    to keep cells cache-sized.
    """
    e, cents = _km_fit(embeddings, KM_K, KM_ITERS)
    assign = _km_assign(e, cents, keep_vec=True)
    rk = Window.partitionBy("cluster_id").orderBy(
        F.col("dist_sq").asc(), F.col("vec_id").asc()
    )
    ranked = assign.select(
        "vec_id", "cluster_id", "v", F.row_number().over(rk).alias("rk")
    )
    x, y = ranked.alias("x"), ranked.alias("y")
    dups = (
        x.join(
            y,
            (F.col("x.cluster_id") == F.col("y.cluster_id"))
            & (F.col("x.rk") > F.col("y.rk"))
            & (F.col("x.rk") - F.col("y.rk") <= SEMDEDUP_WINDOW),
        )
        .filter(
            F.round(cosine(F.col("x.v"), F.col("y.v")), 6)
            >= F.lit(SEMDEDUP_THRESHOLD)
        )
        .groupBy(F.col("x.vec_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_dups"))
    )
    out = (
        ranked.select("vec_id", "cluster_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cluster_id").cast("bigint").alias("cluster_id"),
            F.coalesce("n_dups", F.lit(0)).cast("bigint").alias("n_dups"),
            F.col("n_dups").isNull().alias("kept"),
        )
    )
    return own_cache(out, e)


PCA_COMPONENTS = 8
PCA_TOL = 1e-6


def pca_fit_project(embeddings: DataFrame) -> DataFrame:
    """Distributed PCA for the dimensionality-reduction tier of the
    ANN stack (OPQ-style pre-rotation, cheap coarse search spaces):
    fit on exact second moments, project every vector, and emit
    per-vector INVARIANT flags the SQL oracle can arbitrate (the
    eigendecomposition itself is not SQL-expressible, so the
    correctness contract is flags-always-true rather than raw
    projections).

    Scale anatomy — the textbook moment-sketch layout:

    * each partition folds its Arrow batches into ONE partial
      (count, Σx, ΣxxT) via ``mapInPandas`` — O(d²) floats per
      partition regardless of row count, so the driver collect is
      partitions × ~33 KB at d = 64;
    * the driver combines partials, forms the covariance, runs a
      d × d ``eigh`` (microseconds at any corpus size — d is the
      model width, not the data size), and fixes each component's
      sign by making its largest-|coordinate| entry positive;
    * components + mean broadcast back as nested literals and the
      projection is a pure JVM map over the corpus — no shuffle, no
      Python on the hot path.

    Emitted flags (each must hold for EVERY vector / the fit):
    ``proj_norm_ok`` — ‖P(x-μ)‖² ≤ ‖x-μ‖² + PCA_TOL (an orthonormal
    projection never grows a norm; catches broken components on every
    single row); ``variance_ok`` — top-q eigenvalue mass ≥ q/d of the
    trace (PCA beats-or-ties any axis-aligned q-subset); and
    ``orthonormal_ok`` — max |GᵀG - I| < 1e-6 over the fitted basis.
    """
    import numpy as np
    import pandas as pd

    e = widen_for_compute(embeddings).select(
        "vec_id", _to_double(F.col("embedding")).alias("v")
    )
    d = EMB_DIM
    q = PCA_COMPONENTS

    def partials(batches):
        n = 0
        s = np.zeros(d)
        ss = np.zeros((d, d))
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy())
            n += x.shape[0]
            s += x.sum(axis=0)
            ss += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    parts = e.mapInPandas(
        partials, "n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(r["n"] for r in parts)
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.array(r["ss"]).reshape(d, d) for r in parts], axis=0)
    mu = s / n
    cov = (ss - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:q]
    comps = evecs[:, order].T  # q x d
    for i in range(q):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    top_mass = float(np.sum(np.clip(evals[order], 0, None)))
    trace = float(np.trace(cov))
    variance_ok = bool(top_mass >= (q / d) * trace - PCA_TOL)
    gram = comps @ comps.T
    orthonormal_ok = bool(
        float(np.max(np.abs(gram - np.eye(q)))) < 1e-6
    )

    mu_lit = const_array_lit([float(x) for x in mu])
    comps_lit = const_array_lit([[float(x) for x in row] for row in comps])
    centered = F.zip_with(F.col("v"), mu_lit, lambda x, m: x - m)
    proj = F.transform(comps_lit, lambda c: dot_pre(centered, c))
    sq = lambda a: F.aggregate(  # noqa: E731
        a, F.lit(0.0), lambda acc, x: acc + x * x
    )
    return e.select(
        "vec_id",
        F.lit(q).cast("int").alias("n_components"),
        (sq(proj) <= sq(centered) + F.lit(PCA_TOL)).alias("proj_norm_ok"),
        F.lit(variance_ok).alias("variance_ok"),
        F.lit(orthonormal_ok).alias("orthonormal_ok"),
    )


def dot_pre(a: Column, b: Column) -> Column:
    """Dot product where both sides are already double arrays (no
    element casts — keeps nested-literal folds cheap)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


MRL_PREFIX_DIM = 16
MRL_SHORTLIST = 30


def matryoshka_topk(embeddings: DataFrame) -> DataFrame:
    """Matryoshka-tier ANN (Kusupati et al. 2022, public): score the
    corpus with cosine over only the FIRST ``MRL_PREFIX_DIM`` coordinates
    (MRL-trained embeddings front-load information, so the prefix is
    a usable coarse space at 1/4 the arithmetic and 1/4 the scan
    bytes), keep a per-query ``MRL_SHORTLIST``, then exact full-dimension
    re-rank — the two-tier cost shape of the IVF-PQ + rerank stack,
    but with NO index artifact to build or store: the coarse tier is
    a prefix slice of the same column.

    Scale shape: corpus touched once with quarter-width arithmetic
    (at 100 TB the prefix tier reads a physically separate narrow
    column/file), the shortlist join back to full vectors is
    (N_QUERIES × MRL_SHORTLIST)-bounded, queries broadcast.  Both tiers
    round scores to 6 before ranking; ties break on id.
    """
    e = widen_for_compute(embeddings)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    coarse = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "embedding",
            "q_emb",
            F.round(
                cosine(
                    F.slice(F.col("embedding"), 1, MRL_PREFIX_DIM),
                    F.slice(F.col("q_emb"), 1, MRL_PREFIX_DIM),
                ),
                6,
            ).alias("coarse_sim"),
        )
    )
    short = top_per_query(
        coarse, MRL_SHORTLIST, F.desc("coarse_sim"), F.asc("neighbor_id"),
        rank="crk",
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("cos_sim"),
    )
    return top_per_query(short, TOP_K, F.desc("cos_sim"), F.asc("neighbor_id"))


DECONTAM_EVAL_VECS = 8
DECONTAM_THRESHOLD = 0.4


def semantic_decontam(embeddings: DataFrame) -> DataFrame:
    """Embedding-space decontamination: training vectors
    cosine-``DECONTAM_THRESHOLD``-close to ANY eval-set vector (vec_id <
    ``DECONTAM_EVAL_VECS`` stands in for the benchmark corpus) — the
    semantic sibling of the n-gram overlap check
    (operators/curation.py:contaminated_docs), catching paraphrased
    leakage that shares no shingles.

    Scale shape mirrors the n-gram form exactly: the eval side is
    benchmark-sized (thousands), broadcast once; the corpus is
    scanned once with |eval| dot products per row inside codegen —
    O(N·|eval|) with NO corpus self-join, and the flagged output is
    contamination-sized.  At higher |eval| the ANN tiers slot in
    front as the candidate generator, same as dedup.
    """
    e = widen_for_compute(embeddings)
    ev = e.filter(F.col("vec_id") < DECONTAM_EVAL_VECS).select(
        F.col("vec_id").alias("eval_vec_id"),
        F.col("embedding").alias("ev_emb"),
    )
    scored = (
        e.filter(F.col("vec_id") >= DECONTAM_EVAL_VECS)
        .join(F.broadcast(ev))
        .select(
            "vec_id",
            "eval_vec_id",
            F.round(cosine(F.col("embedding"), F.col("ev_emb")), 6).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= DECONTAM_THRESHOLD)
    )
    return scored.groupBy("vec_id").agg(
        F.round(F.max("cos_sim"), 6).alias("max_cos"),
        F.count(F.lit(1)).alias("n_eval_hits"),
    )


def embedding_stats(embeddings: DataFrame) -> DataFrame:
    """Vector-index health profile per label partition: count, L2-norm
    mean / median / p95, zero-vector and wrong-width counts — the
    profiling gate (cf. relational.profile_table for relational data)
    a vector pipeline runs before trusting an index build: quantizer
    training and cosine semantics both silently degrade on zero or
    mis-sized vectors.

    One pass: norms are a JVM fold per row, then one |labels|-bounded
    aggregation carrying an exact percentile pair — no self-join, no
    Python.  (At extreme cardinality swap percentile → approx.)
    """
    e = widen_for_compute(embeddings)
    nrm = l2_norm(F.col("embedding"))
    scored = e.select(
        "label",
        nrm.alias("nrm"),
        (nrm == 0.0).cast("long").alias("is_zero"),
        (F.size("embedding") != EMB_DIM).cast("long").alias("bad_dim"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("nrm"), 4).alias("mean_norm"),
            F.expr("percentile(nrm, array(0.5, 0.95))").alias("p"),
            F.sum("is_zero").alias("n_zero"),
            F.sum("bad_dim").alias("n_bad_dim"),
        )
        .select(
            "label",
            "n_vectors",
            "mean_norm",
            F.round(F.col("p")[0], 4).alias("median_norm"),
            F.round(F.col("p")[1], 4).alias("p95_norm"),
            "n_zero",
            "n_bad_dim",
        )
    )


def _recall_report(truth_src: DataFrame, pred_src: DataFrame) -> DataFrame:
    """Per-query recall@``TOP_K`` + top-1 reciprocal rank of ``pred_src``
    against ``truth_src`` (both (query_id, neighbor_id, rank) lists).
    Shared by the LSH and IVF-PQ harnesses so the two tiers are scored
    by literally the same expression; absorbs the component searches'
    cache ownership into the returned report."""
    truth = truth_src.select(
        "query_id", "neighbor_id", F.col("rank").alias("t_rank")
    )
    pred = pred_src.select(
        "query_id", "neighbor_id", F.col("rank").alias("p_rank")
    )
    j = truth.join(pred, ["query_id", "neighbor_id"], "left")
    out = j.groupBy("query_id").agg(
        F.count("p_rank").alias("n_hit"),
        F.round(F.count("p_rank") / F.lit(float(TOP_K)), 4).alias("recall"),
        F.round(
            F.max(
                F.when(
                    F.col("t_rank") == 1,
                    F.coalesce(1.0 / F.col("p_rank"), F.lit(0.0)),
                ).otherwise(0.0)
            ),
            4,
        ).alias("rr_top1"),
    )
    return own_cache(out, absorb=[truth_src, pred_src])


def ann_recall_eval(embeddings: DataFrame) -> DataFrame:
    """Recall harness for the LSH ANN tier: per query, how much of the
    exact top-``TOP_K`` (brute-force truth) the multi-probe LSH search
    returns, plus the reciprocal rank of the TRUE nearest neighbor in
    the ANN list — the live twin of the recall assertions that
    otherwise exist only in pytest, so a production index rebuild can
    gate on measured recall (cf. dedup.dedup_eval_pr for the dedup
    tier).

    Cost = the two component searches (truth is exact but
    query-bounded: N_QUERIES × corpus — the oracle tier, not the
    serving path) + one (N_QUERIES × TOP_K)-row join: evaluation is
    corpus-free beyond the searches themselves.
    """
    return _recall_report(
        brute_force_topk(embeddings, N_QUERIES, TOP_K),
        lsh_ann_topk(embeddings),
    )


def ivfpq_recall_eval(embeddings: DataFrame) -> DataFrame:
    """Recall harness for the PRODUCTION ANN stack (IVF probe → PQ ADC
    → exact re-rank), same contract as :func:`ann_recall_eval` for
    the LSH tier: per-query recall@k and top-1 reciprocal rank vs the
    brute-force truth.  Gating an index rebuild on both tiers'
    measured recall is exactly how a deployment keeps quantizer drift
    from silently degrading retrieval.
    """
    return _recall_report(
        brute_force_topk(embeddings, N_QUERIES, TOP_K),
        ivfpq_rerank_topk(embeddings),
    )
