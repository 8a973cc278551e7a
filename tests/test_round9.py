"""Round-9 regression tests: the ADVICE-r8 fixes that outlived the
custom inventory source and the streaming twins — chiefly the explicit
NULL policies in the DQ suites.
"""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from conftest import SF_CORRECT  # noqa: F401  (shared fixture constants)


# ---------------------------------------------------------------------------
# DQ suites: explicit NULL policy + empty-table hardening (ADVICE r8)
# ---------------------------------------------------------------------------


def test_inventory_constraints_count_null_key_as_malformed(spark):
    """A NULL key must count in BOTH completeness:key and
    malformed_frac:key — a bare SUM over the well-formed flag would
    silently drop the NULL while the DuckDB oracle's CASE...ELSE 1
    counts it."""
    from go_mailio_diskusage_handler_spark.operators import dq

    inv = spark.createDataFrame(
        [("a/b", 1), (None, 2), ("noslash", 3)], "key string, size long"
    )
    rows = {r["rule"]: r for r in dq.inventory_constraint_suite(inv).collect()}
    assert rows["completeness:key"]["metric"] == 1.0
    assert rows["completeness:key"]["status"] == "FAIL"
    # malformed = the NULL key AND the slashless key -> 2/3
    assert rows["malformed_frac:key"]["metric"] == pytest.approx(2 / 3, abs=1e-6)


def test_constraint_suite_empty_orders_is_well_defined(spark):
    """Empty input: every rule must report PASS with a non-NULL metric
    (SUM over zero rows is NULL; un-coalesced it read FAIL-with-NULL
    for all five rules)."""
    from go_mailio_diskusage_handler_spark.operators import dq

    orders = spark.createDataFrame(
        [],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )
    customer = spark.createDataFrame([], "c_custkey long")
    rows = {r["rule"]: r for r in dq.constraint_suite(orders, customer).collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["status"] == "PASS", r
        assert r["metric"] is not None
    # the floored denominator makes empty-table completeness read as
    # vacuously complete (1.0); the count-valued rules read 0.0
    assert rows["completeness:o_custkey"]["metric"] == 1.0
    assert rows["domain:o_orderstatus"]["metric"] == 0.0
    assert rows["referential:o_custkey->c_custkey"]["metric"] == 0.0


def test_inventory_constraints_empty_table_is_well_defined(spark):
    from go_mailio_diskusage_handler_spark.operators import dq

    inv = spark.createDataFrame([], "key string, size long")
    rows = dq.inventory_constraint_suite(inv).collect()
    assert rows and all(
        r["status"] == "PASS" and r["metric"] == 0.0 for r in rows
    )


# ---------------------------------------------------------------------------
# Round-9 addition: CCNet perplexity buckets
# ---------------------------------------------------------------------------


def test_oracle_parity_ppl_buckets(spark, ddb):
    from conftest import compare_with_oracle
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "curation_ppl_buckets", registry.QUERIES, registry.ORACLE_SQL
    )


def test_ppl_buckets_are_per_lang_terciles(spark):
    """Each language splits into head/middle/tail thirds (±1 doc per
    tie-group) and the head bucket's mean log-prob strictly exceeds
    the tail's — the CCNet invariant the buckets exist for."""
    from go_mailio_diskusage_handler_spark import registry

    rows = registry.QUERIES["curation_ppl_buckets"](spark, SF_CORRECT).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], {})[r["bucket"]] = r
    for lang, buckets in by_lang.items():
        assert set(buckets) == {"head", "middle", "tail"}, (lang, buckets)
        n = sum(b["n_docs"] for b in buckets.values())
        for b in buckets.values():
            # tie-groups land whole in one bucket, so allow slack of a
            # few docs around n/3 on this small fixture
            assert abs(b["n_docs"] - n / 3) <= max(3, 0.2 * n), (lang, b)
        assert buckets["head"]["avg_logp"] > buckets["tail"]["avg_logp"]
        assert buckets["head"]["min_logp"] >= buckets["middle"]["max_logp"]
        assert buckets["middle"]["min_logp"] >= buckets["tail"]["max_logp"]


def test_ppl_buckets_plan_has_no_fact_table_window(spark):
    """The tercile assignment must come from the bounded (lang, score)
    histogram, never a window over the document fact table: every
    Window node's input must sit above an aggregation."""
    from go_mailio_diskusage_handler_spark import plans, registry

    df = registry.QUERIES["curation_ppl_buckets"](spark, SF_CORRECT)
    p = plans.executed_plan(df)
    assert "SortMergeJoin" not in p  # dimension joins broadcast
    # Window nodes exist (vocab total + histogram cume), but none may
    # consume the raw documents scan directly: in this plan every
    # window's child chain contains a HashAggregate before any scan.
    lines = p.splitlines()
    for i, line in enumerate(lines):
        if "Window" not in line:
            continue
        below = "\n".join(lines[i : i + 12])
        assert "HashAggregate" in below or "InMemoryTableScan" in below, line


# ---------------------------------------------------------------------------
# AQE skew-join demonstration (round-8 verdict optional item)
# ---------------------------------------------------------------------------


def test_aqe_skew_join_splits_skewed_partition(spark):
    """spark.sql.adaptive.skewJoin must actually split a skewed
    sort-merge-join partition at runtime (plan-asserted via the
    'skew=true' marker on the final adaptive plan) — the runtime
    complement to the MANUAL salting in salted_event_totals: salting
    rewrites the query, AQE re-plans the exchange without touching it.
    """
    from pyspark.sql import functions as F

    conf_keys = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # shrink thresholds so the fixture skew qualifies: the skewed
        # partition is ~200k rows but lz4 crushes it (constant key +
        # sequential longs) to a few tens of KB of shuffle bytes
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        # force a sort-merge join: a broadcast join has no skewed
        # shuffle partition to split
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # coalescing can mask the split on a tiny fixture
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        # left: 200k rows, 99% on key 0 (the skewed key); right: 2k
        # rows spread over 200 keys so the join is non-degenerate
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise((F.col("id") % 199) + 1)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(2_000).select(
            (F.col("id") % 200).alias("k"), (F.col("id") * 2).alias("w")
        )
        # Global aggregate, NOT a per-key groupBy: splitting the skewed
        # partition breaks the join's k-partitioning, and the default
        # (forceOptimizeSkewedJoin=false) skips the rule when the split
        # would add a shuffle a downstream key-grouping needs back.
        joined = left.join(right, "k").agg(F.count(F.lit(1)).alias("n"))
        # collect() runs THIS DataFrame's own QueryExecution, so its
        # adaptive plan is final afterwards (count() would spawn a
        # separate execution and leave this one unfinalized).
        [row] = joined.collect()
        assert row["n"] > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# Round-9 addition: parameterized SQL
# ---------------------------------------------------------------------------


def test_oracle_parity_parameterized_revenue(spark, ddb):
    from conftest import compare_with_oracle
    from go_mailio_diskusage_handler_spark import registry

    compare_with_oracle(
        spark, ddb, "sql_parameterized_revenue", registry.QUERIES,
        registry.ORACLE_SQL,
    )


def test_parameterized_sql_binds_at_parse_time(spark):
    """args binding happens at parse time, so the parameterized query's
    optimized plan equals the literal-inlined query's — the safety is
    free.  And a malicious 'table name' must be rejected by the
    IDENTIFIER binder, never parsed as SQL."""
    from go_mailio_diskusage_handler_spark import registry

    param = registry.QUERIES["sql_parameterized_revenue"](spark, SF_CORRECT)
    literal = spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM orders
        WHERE o_orderdate >= DATE '1995-01-01' AND o_totalprice > 100000.0D
        GROUP BY o_orderpriority
        """
    )
    def norm(df):
        # expression ids (#123L) differ per-parse; the structure must not
        return re.sub(
            r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString()
        )

    assert norm(param) == norm(literal)
    with pytest.raises(Exception):
        spark.sql(
            "SELECT COUNT(*) AS n FROM IDENTIFIER(:tbl)",
            args={"tbl": "orders WHERE 1=0; DROP TABLE orders"},
        ).collect()
