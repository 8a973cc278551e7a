"""[EXT] similarity search: oracle parity + ANN recall properties."""

from __future__ import annotations

import pytest

from go_mailio_diskusage_handler_spark import plans, registry
from go_mailio_diskusage_handler_spark.operators import similarity
from go_mailio_diskusage_handler_spark.sources.tables import load_table

from conftest import SF_CORRECT, compare_with_oracle

ORACLE_CHECKED = [
    "dedup_semantic",
    "sim_pca_project",
    "sim_matryoshka_topk",
    "curation_semantic_decontam",
    "sim_embedding_stats",
    "sim_eval_recall",
    "sim_eval_recall_ivfpq",
    "sim_quantize_int8",
    "sim_pq_codes",
    "sim_pq_ann_topk",
    "sim_ivfpq_ann_topk",
    "sim_ivfpq_rerank_topk",
    "sim_brute_topk",
    "sim_filtered_topk",
    "sim_lsh_buckets",
    "sim_lsh_ann_topk",
    "dedup_embedding_cosine",
    "sim_ivf_assignments",
    "sim_ivf_ann_topk",
    "sim_mmr_topk",
    "sim_rrf_hybrid_topk",
    "sim_kmeans_train",
    "sim_kmeans_ivf_topk",
    "sim_range_search",
    "sim_kmeans_stats",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


def test_rerank_broadcasts_shortlist(spark):
    """The exact tier must stay corpus-size-independent: the ADC
    shortlist reaches the corpus scan as a broadcast, never a shuffle
    of the embedding table."""
    df = registry.QUERIES["sim_ivfpq_rerank_topk"](spark, SF_CORRECT)
    assert plans.has_broadcast_join(df)


def test_brute_force_broadcasts_queries(spark):
    """The corpus side must not shuffle: query set is broadcast."""
    df = registry.QUERIES["sim_brute_topk"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_ann_results_are_subset_quality(spark):
    """Each ANN hit must be a genuine within-bucket neighbor with the
    same cosine the brute-force path computes (exactness of re-rank)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(emb, 8, 500).collect()
    }
    ann = similarity.lsh_ann_topk(emb).collect()
    assert ann, "ANN returned nothing"
    for r in ann:
        assert brute[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_filtered_topk_respects_label_and_cosine(spark):
    """Every hit must share its query's label, carry the brute-force
    cosine for that pair, and out-rank every unreturned same-label
    candidate (true filtered top-k, not a post-filtered global one)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(emb, 8, 500).collect()
    }
    hits: dict[int, list] = {}
    for r in similarity.filtered_topk(emb).collect():
        assert labels[r.neighbor_id] == labels[r.query_id]
        assert r.label == labels[r.query_id]
        assert brute[(r.query_id, r.neighbor_id)] == r.cos_sim
        hits.setdefault(r.query_id, []).append(r)
    for q, rows in hits.items():
        floor = min(r.cos_sim for r in rows)
        better_same_label = [
            cos
            for (qq, n), cos in brute.items()
            if qq == q and labels[n] == labels[q] and cos > floor
        ]
        returned = {r.neighbor_id for r in rows}
        missing = [
            n
            for (qq, n), cos in brute.items()
            if qq == q and labels[n] == labels[q] and cos > floor
            and n not in returned
        ]
        assert not missing, (q, missing)


def test_cosine_self_similarity_is_one(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings").limit(20)
    from pyspark.sql import functions as F

    rows = emb.select(
        F.round(similarity.cosine(F.col("embedding"), F.col("embedding")), 6).alias("c")
    ).collect()
    assert all(abs(r.c - 1.0) < 1e-6 for r in rows)


def test_ivf_assignment_is_shuffle_free(spark):
    """Coarse quantization is per-row expression work against a
    broadcast codebook — the plan must contain zero exchanges."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    assert plans.shuffle_count(similarity.ivf_assignments(emb)) == 0


def test_ivf_rerank_is_exact(spark):
    """IVF hits carry the same cosine the brute-force path computes."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(emb, 8, 500).collect()
    }
    hits = similarity.ivf_ann_topk(emb).collect()
    assert hits, "IVF ANN returned nothing"
    for r in hits:
        assert brute[(r.query_id, r.neighbor_id)] == r.cos_sim


def test_buckets_are_balancedish(spark):
    """Hyperplane buckets shouldn't collapse into one giant bucket
    (that would reintroduce the n² blowup the LSH exists to avoid)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    counts = [r[1] for r in similarity.lsh_buckets(emb).groupBy("bucket").count().collect()]
    n = sum(counts)
    assert max(counts) < n * 0.2, f"degenerate bucket: {max(counts)}/{n}"


def test_ann_recall_floors(spark):
    """Recall@5 vs exact brute force for every ANN family — the
    quality half of the speed/quality trade.  Floors sit below the
    measured values on the (deterministic) fixtures so a broken index
    or probe path fails loudly, while parameter tuning has headroom.
    Note the expected ordering on RANDOM vectors: IVF (exact rerank
    within probed lists) ≫ multi-probe LSH > ADC paths (PQ
    quantization error dominates when vectors have no structure)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    truth: dict[int, set[int]] = {}
    for r in similarity.brute_force_topk(
        emb, similarity.N_QUERIES, similarity.TOP_K
    ).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(hits):
        got: dict[int, set[int]] = {}
        for r in hits:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        denom = sum(len(v) for v in truth.values())
        return sum(len(truth[q] & got.get(q, set())) for q in truth) / denom

    floors = {
        "ivf": (similarity.ivf_ann_topk, 0.85),
        # 2 independent-plane tables × asymmetric [H≤3, H≤2] probes
        # measured 0.700 (see PROBE_MASKS_BY_TABLE's sweep).
        "lsh": (similarity.lsh_ann_topk, 0.60),
        "ivfpq": (similarity.ivfpq_ann_topk, 0.20),
        # exact re-rank over the widened ADC shortlist (measured
        # 0.925 at shortlist=60 — see RERANK_SHORTLIST's sweep).
        "ivfpq_rerank": (similarity.ivfpq_rerank_topk, 0.85),
        "pq": (similarity.pq_ann_topk, 0.10),
    }
    for name, (fn, floor) in floors.items():
        r = recall(fn(emb).collect())
        assert r >= floor, f"{name} recall@5 collapsed: {r} < {floor}"


from pyspark.sql import functions as F  # noqa: E402


def test_embedding_near_dup_recall_floor(spark):
    """Multi-probe near-dup must recover a material fraction of the
    TRUE cos ≥ 0.4 pairs (brute-force ground truth) — same-bucket-only
    joins measured 3/59 on these fixtures; 3-table Hamming-1
    multi-probe 20/59."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    cos = similarity.dot(F.col("ea"), F.col("eb")) / (
        similarity.l2_norm(F.col("ea")) * similarity.l2_norm(F.col("eb"))
    )
    n_true = (
        a.crossJoin(b)
        .filter(F.col("va") < F.col("vb"))
        .filter(F.round(cos, 6) >= 0.4)
        .count()
    )
    found = similarity.embedding_near_dup_pairs(emb).count()
    assert n_true > 0
    assert found / n_true >= 0.2, (found, n_true)


def test_mmr_diversifies_near_duplicate_neighbors(spark):
    """Hand-built geometry the dense fixture can't discriminate: the
    two most relevant candidates are near-duplicates of each other, so
    plain top-k returns both while MMR must spend rank 2 on the
    diverse candidate (the duplicate's λ·rel − (1−λ)·sim≈1 penalty
    loses).  Rank 1 always equals the relevance arg-max."""
    from go_mailio_diskusage_handler_spark.operators import similarity as S

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),     # query
        (10, [0.9, 0.1, 0.0, 0.0], 0),    # most relevant
        (11, [0.9, 0.1001, 0.0, 0.0], 0), # near-duplicate of 10
        (12, [0.5, 0.0, 0.5, 0.0], 0),    # diverse, less relevant
        (13, [0.0, 0.1, 0.0, 0.9], 0),    # mostly orthogonal
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = (
        S.mmr_rerank_topk(emb, k=3, lam=0.5)
        .orderBy("mmr_rank")
        .collect()
    )
    order = [r.neighbor_id for r in got]
    assert order[0] == 10, order
    # the near-duplicate 11 (sim≈1 to the rank-1 pick) must lose rank
    # 2 to the diverse candidate 12 — relevance-only ranking would
    # have 11 second.
    assert order == [10, 12, 11], order
    # scores strictly decrease down the MMR ranking here
    assert got[0].mmr_score > got[1].mmr_score > got[2].mmr_score


def test_rrf_rewards_agreement_across_retrievers(spark):
    """A candidate ranked by BOTH retrievers must outrank a candidate
    that only one retriever surfaces at similar depth — the defining
    property of reciprocal-rank fusion."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark import registry
    from conftest import SF_CORRECT

    out = registry.QUERIES["sim_rrf_hybrid_topk"](spark, SF_CORRECT)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    for q, rs in per_q.items():
        rs = sorted(rs, key=lambda r: r.fused_rank)
        assert len(rs) == 5
        # scores non-increasing down the fused ranking
        assert all(
            rs[i].rrf_score >= rs[i + 1].rrf_score for i in range(len(rs) - 1)
        )
        # every fused score decomposes into valid reciprocal terms:
        # 1/(60+a) or 1/(60+a) + 1/(60+b) with pool ranks a, b
        singles = {1.0 / (60 + r) for r in range(1, 21)}
        doubles = {a + b for a in singles for b in singles}
        for r in rs:
            assert r.rrf_score in singles | doubles, (q, r)
    # the synthetic fixture's embeddings are independent of the text,
    # so cross-retriever overlap may be empty per query — the fusion
    # of overlapping lists is pinned by the structural check above
    # and by the oracle parity test (FULL OUTER + COALESCE algebra).


def test_kmeans_separates_well_separated_clusters(spark):
    """Two tight blobs far apart, one seed in each (init = lowest
    vec_ids): Lloyd must recover the exact partition, and within-blob
    distances to the final centroid must be small relative to the
    blob separation."""
    from go_mailio_diskusage_handler_spark.operators.similarity import (
        kmeans_train,
    )

    dim = 8
    rows = []
    # Blob A near 0, blob B near 100; seeds are vec_id 0 (A) and 1 (B).
    for i in range(12):
        base = 0.0 if i % 2 == 0 else 100.0
        rows.append((i, [base + ((i * 7 + j) % 5) * 0.1 for j in range(dim)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in kmeans_train(df, k=2, iters=2).collect()}
    assert all(got[i].cluster_id == 0 for i in range(0, 12, 2))
    assert all(got[i].cluster_id == 1 for i in range(1, 12, 2))
    # Intra-cluster dist_sq bounded by blob radius (<< separation).
    assert all(r.dist_sq < 10.0 for r in got.values())


def test_kmeans_iterations_do_not_increase_inertia(spark):
    """Lloyd's invariant on the real fixture: total inertia after 2
    update rounds <= after 1 round (both measured with the same
    rounding contract the oracle uses)."""
    from go_mailio_diskusage_handler_spark.operators.similarity import (
        kmeans_train,
    )
    from go_mailio_diskusage_handler_spark.sources.tables import load_table
    from conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    inertia = []
    for iters in (1, 2):
        df = kmeans_train(emb, k=8, iters=iters)
        inertia.append(sum(r.dist_sq for r in df.collect()))
        spark.catalog.clearCache()
    assert inertia[1] <= inertia[0] + 1e-6


def test_trained_ivf_recall_floor(spark):
    """Trained-codebook IVF recall@5 vs exact L2 ground truth: cells
    fitted to the data must localize true neighbors at least as well
    as a coarse random partition — floor set below measurement so
    probe/assignment regressions fail loudly."""
    from conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    got = similarity.kmeans_ivf_topk(emb)
    rows = got.collect()
    spark.catalog.clearCache()
    # Exact L2 top-5 ground truth, computed in-test.
    import itertools

    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    truth: dict[int, set[int]] = {}
    for q in range(8):
        qv = vecs[q]
        d = sorted(
            (
                sum((float(a) - float(b)) ** 2 for a, b in zip(qv, vecs[n])),
                n,
            )
            for n in vecs
            if n != q
        )
        truth[q] = {n for _, n in itertools.islice(iter(d), 5)}
    hits = sum(
        1 for r in rows if r.neighbor_id in truth[r.query_id]
    )
    recall = hits / (8 * 5)
    assert recall >= 0.5, recall


def test_range_search_is_exactly_thresholded_brute_force(spark):
    """Range search == brute force restricted to cos >= threshold:
    same pairs, same cosines, no rank truncation."""
    from conftest import SF_CORRECT

    emb = load_table(spark, SF_CORRECT, "embeddings")
    got = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.range_search(emb).collect()
    }
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.brute_force_topk(emb, similarity.N_QUERIES, 500).collect()
        if r.cos_sim >= similarity.RANGE_MIN_COS
    }
    assert got == brute and got


def test_semantic_dedup_drops_near_duplicates(spark):
    """Every dropped vector must have at least one in-cluster
    duplicate; kept rows report zero; and the drop set is non-empty on
    the fixture (the corpus contains genuine near-dup pairs)."""
    from go_mailio_diskusage_handler_spark import registry

    rows = registry.QUERIES["dedup_semantic"](spark, SF_CORRECT).collect()
    dropped = [r for r in rows if not r.kept]
    assert dropped, "fixture should contain semantic duplicates"
    assert all(r.n_dups > 0 for r in dropped)
    assert all(r.n_dups == 0 for r in rows if r.kept)


def test_matryoshka_recall_floor(spark):
    """Prefix-tier recall vs the exact top-5.  The fixture embeddings
    are random (NOT Matryoshka-trained), so the 16/64 prefix carries
    only ~1/4 of the information — the measured 0.5 here is the
    information bound of the data, not a bug; MRL-trained embeddings
    front-load variance and push this toward 1.0."""
    from go_mailio_diskusage_handler_spark import registry

    bf = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["sim_brute_topk"](spark, SF_CORRECT)
        .filter("rank <= 5")
        .collect()
    }
    mrl = {
        (r.query_id, r.neighbor_id)
        for r in registry.QUERIES["sim_matryoshka_topk"](
            spark, SF_CORRECT
        ).collect()
    }
    assert len(bf & mrl) / len(bf) >= 0.4
