"""Cache-lifetime ownership (caching.own_cache).

The round-5 storage contract made cache release the CALLER's burden
(clearCache between composites); these tests pin the round-6 contract:
a persisting operator's cache lives exactly as long as its returned
frame — warm while held, released on drop — with NO clearCache and no
explicit unpersist anywhere in the consumer code.
"""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from conftest import SF_SMOKE
from go_mailio_diskusage_handler_spark.caching import own_cache
from go_mailio_diskusage_handler_spark.operators import (
    dedup,
    relational,
    similarity,
)
from go_mailio_diskusage_handler_spark.sources.tables import load_table


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class _Box:
    """Holder so tests can drop the ONLY strong reference to a frame
    (a bare local passed into a helper would leave the caller's name
    binding alive and defeat the finalizer)."""

    def __init__(self, df):
        self.df = df

    def drop(self) -> None:
        self.df = None
        gc.collect()


def test_three_persisting_operators_back_to_back_leave_no_cache(spark):
    """The verdict's contract test: run three cache-persisting
    operators in sequence, consume each, drop the handles — executor
    storage must be empty WITHOUT spark.catalog.clearCache()."""
    spark.catalog.clearCache()  # isolate from other test modules
    gc.collect()
    assert _n_persistent(spark) == 0
    docs = load_table(spark, SF_SMOKE, "documents")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    li = load_table(spark, SF_SMOKE, "lineitem")
    part = load_table(spark, SF_SMOKE, "part")

    b1 = _Box(dedup.minhash_dedup_pairs(docs, 0.8))
    assert b1.df.count() >= 0
    b1.drop()

    b2 = _Box(similarity.ivf_ann_topk(emb))
    assert b2.df.count() > 0
    b2.drop()

    b3 = _Box(relational.part_affinity_lift(li, part))
    assert b3.df.count() >= 0
    b3.drop()

    assert _n_persistent(spark) == 0


def test_cache_warm_while_handle_held_released_on_drop(spark):
    spark.catalog.clearCache()
    gc.collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    b = _Box(dedup.minhash_dedup_pairs(docs, 0.8))
    b.df.count()
    # While the result is held the shingle/signature caches stay warm
    # (re-execution hits them).
    assert _n_persistent(spark) > 0
    b.drop()
    assert _n_persistent(spark) == 0


def test_composite_absorbs_component_ownership(spark):
    """dedup_eval_pr composes two cache-owning pair generators; the
    report must keep their caches alive until IT is dropped."""
    spark.catalog.clearCache()
    gc.collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    rep = _Box(dedup.dedup_eval_pr(docs))
    rep.df.count()
    assert _n_persistent(spark) > 0
    rep.drop()
    assert _n_persistent(spark) == 0


def test_own_cache_transfer_chain(spark):
    """absorb moves ownership: the intermediate owner's death no
    longer releases the cache once a new owner absorbed it."""
    spark.catalog.clearCache()
    gc.collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    from pyspark import StorageLevel

    inter = docs.select("doc_id").persist(StorageLevel.MEMORY_AND_DISK)
    mid = _Box(own_cache(inter.filter(F.col("doc_id") >= 0), inter))
    final = _Box(own_cache(mid.df.groupBy().count(), absorb=[mid.df]))
    final.df.count()
    assert _n_persistent(spark) > 0
    mid.drop()
    # mid's finalizer was detached by the absorb — cache survives
    assert _n_persistent(spark) > 0
    final.drop()
    assert _n_persistent(spark) == 0
    del inter


def test_ownership_survives_stash_named_column(spark):
    """Ownership is tracked in a WeakKeyDictionary, not instance
    attributes — a table with a column literally named like the old
    attribute stash must not confuse absorb (advisor-r6 item)."""
    spark.catalog.clearCache()
    gc.collect()
    from pyspark import StorageLevel
    from pyspark.sql import functions as F2

    trap = (
        load_table(spark, SF_SMOKE, "documents")
        .select(F2.col("doc_id").alias("_spark_graft_owned_caches"))
    )
    cached = trap.persist(StorageLevel.MEMORY_AND_DISK)
    owner = _Box(own_cache(cached.filter(F2.col("_spark_graft_owned_caches") >= 0), cached))
    # absorb from a frame whose SCHEMA carries the trap name: must not
    # crash or mistake the Column for an ownership record
    final = _Box(own_cache(owner.df.groupBy().count(), absorb=[owner.df, trap]))
    final.df.count()
    assert _n_persistent(spark) > 0
    owner.drop()
    assert _n_persistent(spark) > 0
    final.drop()
    assert _n_persistent(spark) == 0
