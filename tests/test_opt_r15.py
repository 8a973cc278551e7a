"""Round-15 optimization regression tests.

Two operator-internal changes landed this round (guide §7.3 — driver
planning overhead):

1. ``similarity.const_array_lit`` — nested-array constants are now built
   as ONE ``from_json`` string literal instead of a tree of per-element
   py4j ``F.lit`` calls (~1000 driver round-trips per codebook).  The
   tests pin (a) bit-exact value parity with ``F.lit`` on codebook-like
   data, (b) that Catalyst constant-folds the ``from_json`` away so the
   executed plan carries a plain folded literal, and (c) the non-finite
   fallback path.

2. ``graph_pagerank_brands`` — round 15 replaced the per-iteration
   ``persist()+count()`` by an eager ``localCheckpoint`` per round.  The
   loop is now one lazy plan instead (|V| a global-window count carried
   through the rounds), so the tests pin that building the frame runs
   no job, and the oracle parity of the result.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from go_mailio_diskusage_handler_spark import registry
from go_mailio_diskusage_handler_spark.operators.similarity import (
    const_array_lit,
)

from conftest import SF_CORRECT, compare_with_oracle


def _values(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0][0]


def test_const_array_lit_matches_f_lit_bitexact(spark):
    # codebook-shaped nested doubles with non-representable decimals and
    # extreme magnitudes: the round-trip through the JSON parser must be
    # bit-exact vs the py4j literal path.
    data = [
        [0.1, 1.0 / 3.0, -0.0, 1e-300],
        [math.pi, -2.5e17, 6.02e23, 5e-324],
    ]
    got = _values(spark, const_array_lit(data))
    ref = _values(spark, F.lit(data))
    assert len(got) == len(ref)
    for g_row, r_row in zip(got, ref):
        for g, r in zip(g_row, r_row):
            assert math.copysign(1.0, g) == math.copysign(1.0, r)
            assert g == r and str(g) == str(r)


def test_const_array_lit_int_type_parity(spark):
    # kmeans cluster-id literals were array<int> under F.lit; the helper
    # must preserve the element type, not widen to bigint.
    data = list(range(16))
    df_new = spark.range(1).select(const_array_lit(data, "int").alias("v"))
    df_old = spark.range(1).select(F.lit(data).alias("v"))
    # element type must match (int, not widened to bigint); containsNull
    # differs (from_json is nullable-element) and is value-irrelevant here
    assert (
        df_new.schema["v"].dataType.elementType
        == df_old.schema["v"].dataType.elementType
    )
    assert df_new.collect() == df_old.collect()


def test_const_array_lit_constant_folds(spark):
    # The whole point: JsonToStructs(Literal) folds during optimization,
    # so the executed plan carries a literal, not a runtime JSON parse.
    df = spark.range(1).select(const_array_lit([[1.5, 2.5]]).alias("v"))
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized, optimized


def test_const_array_lit_nonfinite_fallback(spark):
    # JSON cannot carry NaN/Inf — the helper must fall back to F.lit
    # rather than corrupt the values.
    data = [1.0, float("nan"), float("inf")]
    got = _values(spark, const_array_lit(data))
    assert got[0] == 1.0
    assert math.isnan(got[1])
    assert math.isinf(got[2]) and got[2] > 0


def test_pagerank_builds_without_running_a_job(spark):
    """The three power iterations are one lazy plan: once the fixtures
    are loaded, building the frame launches zero Spark jobs."""
    query = registry.QUERIES["graph_pagerank_brands"]
    query(spark, SF_CORRECT)  # loads the fixtures' views
    sc = spark.sparkContext
    sc.setJobGroup("pagerank-build", "graph_pagerank_brands build", False)
    try:
        query(spark, SF_CORRECT)
    finally:
        sc.setJobGroup(None, None, False)
    assert list(sc.statusTracker().getJobIdsForGroup("pagerank-build")) == []


def test_pagerank_oracle_parity(spark, ddb):
    compare_with_oracle(
        spark, ddb, "graph_pagerank_brands", registry.QUERIES, registry.ORACLE_SQL
    )


def test_triangles_plan_lineage_truncated(spark):
    """r15: near_dup_triangles materializes the edge list (and the
    degree-oriented edge frame) with eager localCheckpoint instead of
    persist — persist kept the full Jaccard lineage nested under all
    six downstream branch references (263 Exchange references in the
    r15-entry explain).  The final plan must be two joins over
    LogicalRDD scans."""
    df = registry.QUERIES["dedup_triangles"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 2, plan[:2000]
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan[:2000]


def test_triangles_oracle_parity(spark, ddb):
    compare_with_oracle(
        spark, ddb, "dedup_triangles", registry.QUERIES, registry.ORACLE_SQL
    )


def test_bloom_bitmap_lit_bitexact(spark):
    """r15: bloom_shingle_filter binds its 2048-long bitmap via
    const_array_lit (one from_json literal) instead of F.lit(list)
    (2048 py4j calls, ~1.2 s of driver time per construction).  Signed
    64-bit extremes must round-trip JSON exactly."""
    words = [-(1 << 63), (1 << 63) - 1, 0, -1, 123456789012345678]
    got = _values(spark, const_array_lit(words, "bigint"))
    ref = _values(spark, F.lit(words))
    assert got == ref


def test_bloom_decontam_oracle_parity(spark, ddb):
    compare_with_oracle(
        spark, ddb, "curation_bloom_decontam", registry.QUERIES,
        registry.ORACLE_SQL,
    )


# ---------------------------------------------------------------------------
# r15 session-2 memos: schema inference (load_table) and view
# registration (register_views).  Metadata memos only — every returned
# frame stays a fresh lazy scan; these tests pin the internals that
# keep them result-neutral.
# ---------------------------------------------------------------------------


def test_load_table_memoized_schema_matches_inferred(spark):
    from go_mailio_diskusage_handler_spark.sources import tables as T

    for name in ("lineitem", "events", "documents"):
        key = (SF_CORRECT, name)
        T._SCHEMA_MEMO.pop(key, None)
        first = T.load_table(spark, SF_CORRECT, name)   # infers + memoizes
        assert key in T._SCHEMA_MEMO
        second = T.load_table(spark, SF_CORRECT, name)  # schema-hinted read
        assert second.schema == first.schema
        assert second.count() == first.count()


def test_load_table_returns_fresh_attribute_ids(spark):
    # Two loads must stay joinable as distinct relations (fresh exprIds):
    # an unaliased equi-join between them would raise AMBIGUOUS_SELF_JOIN
    # if the memo handed back the same plan object.
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    a = load_table(spark, SF_CORRECT, "nation")
    b = load_table(spark, SF_CORRECT, "nation")
    assert a is not b
    joined = a.join(b, a["n_nationkey"] == b["n_regionkey"])
    assert joined.count() > 0


def test_register_views_idempotent_and_sf_sensitive(spark):
    from go_mailio_diskusage_handler_spark.sources import tables as S

    sf_small = "/root/testdata/sf0.001"
    S.register_views(spark, SF_CORRECT)
    n_big = spark.table("lineitem").count()
    S.register_views(spark, sf_small)   # sf change must re-register
    n_small = spark.table("lineitem").count()
    assert n_small < n_big
    S.register_views(spark, sf_small)   # repeat is a no-op, views intact
    assert spark.table("lineitem").count() == n_small
    S.register_views(spark, SF_CORRECT)  # and back
    assert spark.table("lineitem").count() == n_big
