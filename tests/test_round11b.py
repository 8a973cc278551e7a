"""Round-11 continuation batch: oracle parity + plan/semantic pins for
the queries added in that batch.
"""
from __future__ import annotations

import pytest

from conftest import SF_CORRECT, compare_with_oracle

from go_mailio_diskusage_handler_spark import registry


NEW_QUERIES = [
    "text_bpe_pairs",
    "text_hash_classifier",
    "setop_churned_buyers_except_all",
    "window_paged_orders",
    "stat_crosstab_priority",
    "scalar_map_hof_shares",
    "scalar_xml_orders",
    "scalar_sql2023_aggregates",
    "scalar_width_bucket_hist",
    "graph_pagerank_brands",
]


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


def test_bpe_pairs_enumerates_vocabulary_not_corpus(spark):
    """The pair-explode leg runs over the word-frequency AGGREGATE
    (vocabulary-bounded), not the raw token stream: the plan has the
    word groupBy BELOW the generator, and exactly two shuffles (word
    key, pair key) end to end."""
    df = registry.QUERIES["text_bpe_pairs"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Generate" in plan
    # top-k must be TakeOrderedAndProject, never a global sort
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_hash_classifier_score_is_bounded_and_jvm_side(spark):
    """Logistic scores live in (0, 1); the whole pipeline is codegen
    expressions — no Python eval nodes in the plan."""
    df = registry.QUERIES["text_hash_classifier"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no BatchEvalPython / ArrowEvalPython
    rows = df.collect()
    assert len(rows) == 500
    assert all(0.0 < r.quality_prob < 1.0 for r in rows)
    # keep thresholds the UNROUNDED score (ADVICE r11), so against the
    # 4-dp displayed score it can only disagree inside the half-ulp
    # band of the rounding step.
    assert all(r.keep for r in rows if r.quality_prob >= 0.503 + 5e-5)
    assert all(not r.keep for r in rows if r.quality_prob < 0.503 - 5e-5)


def test_except_all_preserves_multiplicity(spark):
    """EXCEPT ALL is multiset difference.  Per key: n_excess == early
    multiplicity − late multiplicity where that is positive, and the
    key is absent otherwise, cross-checked against plain per-side
    counts.  A key with orders on both sides still surfaces with its
    excess, where the distinct EXCEPT would drop it."""
    from pyspark.sql import functions as F

    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    res = {
        r.o_custkey: r.n_excess
        for r in registry.QUERIES["setop_churned_buyers_except_all"](
            spark, SF_CORRECT
        ).collect()
    }
    orders = load_table(spark, SF_CORRECT, "orders")
    early = {
        r.o_custkey: r.n
        for r in orders.filter(F.year("o_orderdate") <= 1997)
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    late = {
        r.o_custkey: r.n
        for r in orders.filter(F.year("o_orderdate") >= 1998)
        .groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    expected = {
        k: n - late.get(k, 0) for k, n in early.items() if n > late.get(k, 0)
    }
    assert res == expected
    assert expected.keys() & late.keys(), "no key has orders on both sides"


def test_paged_orders_is_collect_limit_not_global_sort(spark):
    """offset+limit folds into a limit-style plan: no rangepartitioning
    exchange (a full global sort would shuffle everything)."""
    df = registry.QUERIES["window_paged_orders"](spark, SF_CORRECT)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan
    rows = df.collect()
    assert len(rows) == 5
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_crosstab_has_bounded_status_columns(spark):
    df = registry.QUERIES["stat_crosstab_priority"](spark, SF_CORRECT)
    assert sorted(df.columns) == ["F", "O", "P", "o_orderpriority_o_orderstatus"]
    assert df.count() == 5  # the 5 TPC-H priorities


def test_map_hof_average_is_bit_identical_division(spark):
    """The emitted average is vsum/(cnt*100.0) of exact integers — the
    map pipeline must reproduce the plain relational aggregate exactly
    (no rounding step anywhere)."""
    from pyspark.sql import functions as F
    from go_mailio_diskusage_handler_spark.sources.tables import load_table

    got = {
        (r.user_id, r.event_type): r.avg_value
        for r in registry.QUERIES["scalar_map_hof_shares"](
            spark, SF_CORRECT
        ).collect()
    }
    events = load_table(spark, SF_CORRECT, "events")
    flat = (
        events.groupBy("user_id", "event_type")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .filter(F.col("s") >= F.col("c") * 6000)
        .select(
            "user_id",
            "event_type",
            (F.col("s") / (F.col("c") * 100.0)).alias("avg_value"),
        )
    )
    want = {(r.user_id, r.event_type): r.avg_value for r in flat.collect()}
    assert got == want  # exact float equality, by construction


def test_xml_parse_round_trips_attribute_and_elements(spark):
    """from_xml must surface the id attribute as _id (bigint) and both
    child elements; a one-row probe pins the exact struct."""
    from pyspark.sql import functions as F

    row = (
        spark.range(1)
        .select(
            F.from_xml(
                F.lit('<r id="42"><s>F</s><p>1-URGENT</p></r>'),
                "struct<_id:bigint, s:string, p:string>",
            ).alias("x")
        )
        .select("x._id", "x.s", "x.p")
        .first()
    )
    assert (row[0], row[1], row[2]) == (42, "F", "1-URGENT")


def test_pagerank_is_exact_and_partitioning_invariant(spark):
    """Fixed-point PageRank must be BIT-identical across partition
    counts (integer arithmetic has no addition-order sensitivity), the
    rank mass must stay conserved to within integer-truncation loss,
    and every rank must be positive."""
    df = registry.QUERIES["graph_pagerank_brands"](spark, SF_CORRECT)
    rows = {r.p_brand: r.rank_nano for r in df.collect()}
    assert all(v > 0 for v in rows.values())
    n = len(rows)
    total = sum(rows.values())
    # each node truncates at most ~2 nano-units per iteration; mass
    # stays within n * iterations * slack of 1e9
    assert 1_000_000_000 - n * 3 * 200 <= total <= 1_000_000_000
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        rows7 = {
            r.p_brand: r.rank_nano
            for r in registry.QUERIES["graph_pagerank_brands"](
                spark, SF_CORRECT
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows7 == rows


def test_pagerank_empty_graph_returns_empty_like_the_oracle(spark):
    """No order with two distinct brands -> empty graph: the query must
    return zero rows with the contract schema (the oracle does), not
    raise ZeroDivisionError computing the teleport share."""
    import go_mailio_diskusage_handler_spark.queries.q_relational as m
    from go_mailio_diskusage_handler_spark.sources import tables as T

    single_brand = (
        T.load_table(spark, SF_CORRECT, "part")
        .limit(50)
        .withColumn("p_brand", m.F.lit("Brand#11"))
    )
    orig = T.load_table

    def fake_load(spark_, sf_dir, name):
        return single_brand if name == "part" else orig(spark_, sf_dir, name)

    m.load_table, T.load_table = fake_load, fake_load
    try:
        out = m.graph_pagerank_brands(spark, SF_CORRECT)
        assert out.count() == 0
        assert out.columns == ["p_brand", "rank_nano"]
    finally:
        m.load_table, T.load_table = orig, orig
