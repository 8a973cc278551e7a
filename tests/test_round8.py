"""Round-8 surface: polymorphic-output UDTF (``analyze()``), runtime
bloom-filter injection on the probe join, the recursive-CTE conf
restore, and regression tests for the two ADVICE-r7 cross-engine
NULL traps."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from go_mailio_diskusage_handler_spark import plans, registry
from go_mailio_diskusage_handler_spark.functions import scalars, udfs
from go_mailio_diskusage_handler_spark.operators import dedup
from go_mailio_diskusage_handler_spark.sources.tables import load_table

from conftest import SF_CORRECT, compare_with_oracle

ORACLE_CHECKED = [
    "udtf_widen_segments",
    "sql_bloom_probe_revenue",
    "udtf_table_arg_changes",
    "dedup_novelty",
    "sql_scripting_threshold",
    "curation_novelty_gate",
    "dedup_novelty_incremental",
    "events_forward_fill",
    "events_interpolate",
    "events_user_ewma",
    # round-8b additions — driver-checked r9
    "events_compaction_bins",
    "orders_zone_map_skipping",
    "percentile_exact_median",
    "text_cdc_chunks",
    # round-8c additions — driver-checked r9
    "curation_dsir_weights",
    "dq_orders_constraints",
    "text_gopher_rules",
    "profile_join_skew",
    "events_delete_plan",
    "events_watermark_plan",
    "join_cardinality_sketch",
    "events_drift_psi",
    "udf_cogroup_asof",
    "udf_arrow_norms",
    "du_ingest_constraints",
    "aqp_sampled_revenue",
    "scalar_collation_ci",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_parity(spark, ddb, name):
    compare_with_oracle(spark, ddb, name, registry.QUERIES, registry.ORACLE_SQL)


# ---------------------------------------------------------------------------
# Polymorphic UDTF
# ---------------------------------------------------------------------------


def test_widen_udtf_schema_follows_constant_depth(spark):
    """The whole point of ``analyze()``: the SAME function yields a
    different resolved schema per constant depth argument."""
    inv = spark.createDataFrame(
        [("a/b/c",), ("a",)], "key string"
    )
    d2 = udfs.widen_path_segments(inv, depth=2)
    d4 = udfs.widen_path_segments(inv, depth=4)
    assert d2.columns == ["key", "seg_1", "seg_2", "n_segs"]
    assert d4.columns == ["key", "seg_1", "seg_2", "seg_3", "seg_4", "n_segs"]
    rows = {r["key"]: r for r in d4.collect()}
    assert rows["a/b/c"]["seg_3"] == "c" and rows["a/b/c"]["seg_4"] is None
    assert rows["a/b/c"]["n_segs"] == 3
    assert rows["a"]["seg_2"] is None and rows["a"]["n_segs"] == 1


def test_widen_udtf_rejects_non_constant_depth(spark):
    """analyze() derives the schema from the depth CONSTANT; a column
    reference has no plan-time value and must be refused, not guessed."""
    inv = spark.createDataFrame([("a/b", 2)], "key string, d int")
    with pytest.raises(Exception, match="constant"):
        inv.lateralJoin(
            udfs.WidenPathUDTF(F.col("key").outer(), F.col("d").outer())
        ).collect()


def test_widen_udtf_is_arrow_batched(spark):
    df = registry.QUERIES["udtf_widen_segments"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPythonUDTF" not in plan, plan


def test_table_arg_udtf_per_partition_state(spark):
    """TABLE(...) PARTITION BY semantics: one output row per user,
    state never bleeds across partitions, and ORDER BY governs the
    diff sequence.  Fixture: user 1 sees 1,3,2,4 (up,down,up → 2
    changes); user 2 sees 5,5,6 (flat then up → 0 changes — the zero
    diff must extend the run, not reset it)."""
    ev = spark.createDataFrame(
        [(1, 1, "2024-01-01 00:00:01", 1.0),
         (1, 2, "2024-01-01 00:00:02", 3.0),
         (1, 3, "2024-01-01 00:00:03", 2.0),
         (1, 4, "2024-01-01 00:00:04", 4.0),
         (2, 5, "2024-01-01 00:00:01", 5.0),
         (2, 6, "2024-01-01 00:00:02", 5.0),
         (2, 7, "2024-01-01 00:00:03", 6.0)],
        "user_id bigint, event_id bigint, ts_s string, value double",
    ).select(
        "user_id", "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"), "value",
    )
    ev.createOrReplaceTempView("tiny_events")
    udfs.register_direction_changes(spark)
    rows = {r["user_id"]: r for r in spark.sql(
        """
        SELECT * FROM direction_changes(
            TABLE(SELECT user_id, ts, event_id, value FROM tiny_events)
            PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    ).collect()}
    assert len(rows) == 2
    assert rows[1]["n_events"] == 4 and rows[1]["direction_changes"] == 2
    assert rows[2]["n_events"] == 3 and rows[2]["direction_changes"] == 0


def test_novelty_separates_original_from_copy(spark):
    """The signal the operator exists for: an exact copy scores 0
    novelty while the original keeps 1.0 — span COVERAGE scores both
    identically (that asymmetry is the point).  A doc sharing half its
    grams with an earlier doc scores the unshared fraction."""
    eight = "a b c d e f g h"           # one gram exactly
    original = f"{eight} p q r s t u v w"  # 16 words -> 9 grams
    docs = spark.createDataFrame(
        [(1, original), (2, original), (3, eight)],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.novelty_fraction(docs).collect()}
    assert rows[1]["novel_frac"] == 1.0
    assert rows[2]["novel_frac"] == 0.0        # exact copy, later id
    assert rows[3]["novel_frac"] == 0.0        # its only gram is owned by 1
    assert rows[1]["n_grams"] == 9 and rows[2]["n_grams"] == 9
    assert rows[3]["n_grams"] == 1


# ---------------------------------------------------------------------------
# Runtime bloom-filter injection
# ---------------------------------------------------------------------------


def test_bloom_filter_injected_in_shuffle_join_regime(spark):
    """Force the 100 TB regime (dim too big to broadcast, probe scan
    large enough to matter) via session thresholds and assert the
    optimizer injects the bloom probe into the fact side.  All touched
    confs are save/restored — the session leaves unchanged."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.adaptive.enabled",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "100MB",
        )
        # AQE re-plans around the injected filter at this tiny scale;
        # the assertion targets the static optimized plan.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = registry.QUERIES["sql_bloom_probe_revenue"](spark, SF_CORRECT)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bloom_probe_values_identical_with_and_without_filter(spark):
    """The runtime filter is a pure pruning optimization: values must
    be byte-identical across the broadcast (default) and forced
    shuffle+bloom regimes."""
    base = sorted(
        map(tuple, registry.QUERIES["sql_bloom_probe_revenue"](
            spark, SF_CORRECT
        ).collect())
    )
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        forced = sorted(
            map(tuple, registry.QUERIES["sql_bloom_probe_revenue"](
                spark, SF_CORRECT
            ).collect())
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert forced == base


# ---------------------------------------------------------------------------
# Recursive-CTE conf hygiene (round-7 verdict item 3)
# ---------------------------------------------------------------------------


def test_recursive_spine_restores_session_conf(spark):
    """The shared session must leave sql_recursive_spine with exactly
    the cteRecursionLevelLimit it entered with — and the returned
    frame must still execute AFTER the restore (the localCheckpoint
    severs the recursion from the conf)."""
    key = "spark.sql.cteRecursionLevelLimit"
    before = spark.conf.get(key, None)
    df = registry.QUERIES["sql_recursive_spine"](spark, SF_CORRECT)
    assert spark.conf.get(key, None) == before
    assert df.count() == 120  # 1992-01 .. 2001-12
    # and with a caller-set value: restored to THAT value, not default
    spark.conf.set(key, "77")
    try:
        df = registry.QUERIES["sql_recursive_spine"](spark, SF_CORRECT)
        assert spark.conf.get(key) == "77"
        assert df.count() == 120
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


# ---------------------------------------------------------------------------
# ADVICE-r7 NULL traps (cross-engine semantics pinned by unit fixtures;
# the parquet fixtures carry no NULLs, so these build their own)
# ---------------------------------------------------------------------------


def test_span_trim_null_text_yields_empty_not_minus_one(spark):
    """Spark's size(split(NULL)) is -1; the coalesce guard must make a
    NULL-text document behave as an empty one in BOTH engines."""
    docs = spark.createDataFrame(
        [(1, None), (2, "w x y z w x y z w x y z")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.trim_duplicated_spans(docs).collect()}
    assert rows[1]["n_words"] == 1  # split('') -> ['']
    assert rows[1]["kept_tokens"] == 1
    assert rows[1]["removed_tokens"] == 0
    assert rows[1]["trimmed_text"] == ""
    assert all(r["n_words"] >= 0 for r in rows.values())


def test_span_trim_null_text_matches_duckdb(spark):
    """End-to-end cross-engine check on a NULL-bearing fixture: run
    the registered oracle SQL over a temp DuckDB table with a NULL
    text and compare with the operator output.  Uses a PRIVATE DuckDB
    connection — the session-scoped ``ddb`` fixture's ``documents``
    view must not be replaced (cursors share the catalog, so a
    replace there poisons every later oracle test)."""
    import duckdb
    import pandas as pd

    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3],
         "text": [None, "a b c d e f g h a b", "a b c d e f g h a b"]}
    )
    con = duckdb.connect()
    con.register("null_docs", pdf)
    con.execute("CREATE VIEW documents AS SELECT * FROM null_docs")
    want = (
        con.execute(registry.ORACLE_SQL["dedup_span_trim"])
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = spark.createDataFrame(pdf)
    got = (
        dedup.trim_duplicated_spans(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    for c in ["n_words", "kept_tokens", "removed_tokens", "trimmed_text"]:
        assert list(got[c]) == list(want[c].astype(got[c].dtype)), c


def test_kll_quantiles_null_event_type_dropped_in_both_engines(spark):
    """A NULL event_type group must not appear (both engines filter it)
    — without the guard Spark's rank-pass equi-join dropped the group
    while the oracle's GROUP BY emitted it."""
    ev = spark.createDataFrame(
        [(None, "2024-01-01 00:00:00", 1.0)]
        + [("click", f"2024-01-0{d} 00:00:00", float(v))
           for d in (1, 2) for v in range(1, 6)],
        "event_type string, ts_s string, value double",
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    out = scalars.mergeable_value_quantiles(ev).collect()
    assert len(out) == 1
    assert out[0]["event_type"] == "click"
    assert out[0]["n_values"] == 10
    assert out[0]["n_ok"] and out[0]["q50_ok"]


# ---------------------------------------------------------------------------
# Novelty gate: the incremental path equals the batch path
# ---------------------------------------------------------------------------


def test_novelty_incremental_equals_batch_filtered(spark):
    """The incremental path's contract: probing the history index must
    reproduce EXACTLY the full-corpus novelty of the batch docs (no
    drift between the stored-index path and the recompute path)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    split = docs.agg(
        F.floor(F.lit(0.8) * F.max("doc_id")).alias("s")
    ).collect()[0]["s"]
    full = {
        r["doc_id"]: tuple(r)
        for r in dedup.novelty_fraction(docs)
        .filter(F.col("doc_id") > split)
        .collect()
    }
    incr = {
        r["doc_id"]: tuple(r)
        for r in dedup.novelty_fraction_incremental(docs).collect()
    }
    assert incr == full
    assert len(incr) > 0


def test_interpolate_blends_and_labels_edges(spark):
    """Hand-checked anchors: user 1 observes 10 @t2 and 40 @t5; the
    t3/t4 gap rows blend time-weighted (20, 30), the t1 row is leading
    sentinel, the t6 row trails at 40; observation rows return their
    exact value."""
    from go_mailio_diskusage_handler_spark.operators import sessions

    rows = [
        # (event_id, sec, type, value) — 'view' carries no observation
        (1, 1, "view", 99.0),
        (2, 2, "click", 10.0),
        (3, 3, "view", 99.0),
        (4, 4, "view", 99.0),
        (5, 5, "click", 40.0),
        (6, 6, "view", 99.0),
    ]
    ev = spark.createDataFrame(
        [(eid, 1, f"2024-01-01 00:00:0{s}", t, v) for eid, s, t, v in rows],
        "event_id bigint, user_id bigint, ts_s string, event_type string, value double",
    ).select(
        "event_id", "user_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    got = {
        r["event_id"]: (r["interp_value"], r["kind"])
        for r in sessions.interpolate_values(ev).collect()
    }
    assert got == {
        1: (-1.0, "leading"),
        2: (10.0, "obs"),
        3: (20.0, "interp"),
        4: (30.0, "interp"),
        5: (40.0, "obs"),
        6: (40.0, "trailing"),
    }


# ---------------------------------------------------------------------------
# Round-8c: DQ constraint suite / Gopher gate / DSIR weights
# ---------------------------------------------------------------------------


def test_dq_suite_passes_on_clean_fixture(spark):
    """TPC-H dbgen data satisfies every declared constraint."""
    res = registry.QUERIES["dq_orders_constraints"](spark, SF_CORRECT)
    rows = {r["rule"]: r for r in res.collect()}
    assert len(rows) == 5
    assert all(r["status"] == "PASS" for r in rows.values()), rows
    assert rows["completeness:o_custkey"]["metric"] == 1.0
    assert rows["uniqueness:o_orderkey"]["metric"] == 1.0


def test_dq_suite_flags_injected_violations(spark):
    """Each rule fails independently on a frame built to violate it."""
    from go_mailio_diskusage_handler_spark.operators import dq

    orders = spark.createDataFrame(
        [
            (1, 10, "O", 5.0),     # clean
            (1, 20, "X", -3.0),    # dup orderkey, bad status, negative price
            (2, None, "F", 7.0),   # null custkey
            (3, 99, "P", 1.0),     # orphan custkey (99 not in customer)
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double",
    )
    customer = spark.createDataFrame([(10,), (20,)], "c_custkey bigint")
    rows = {r["rule"]: r for r in dq.constraint_suite(orders, customer).collect()}
    assert rows["completeness:o_custkey"]["status"] == "FAIL"
    assert rows["uniqueness:o_orderkey"]["status"] == "FAIL"
    assert rows["domain:o_orderstatus"]["status"] == "FAIL"
    assert rows["domain:o_orderstatus"]["metric"] == 1.0
    assert rows["non_negative:o_totalprice"]["status"] == "FAIL"
    assert rows["referential:o_custkey->c_custkey"]["status"] == "FAIL"
    # NULL custkey rows do NOT count as orphans (anti join on NULL
    # never matches nor fails the FK rule — completeness owns NULLs);
    # only custkey 99 is an orphan.
    assert rows["referential:o_custkey->c_custkey"]["metric"] == 1.0


def test_dq_suite_plan_is_two_aggregates_no_fact_shuffle_join(spark):
    """The suite must stay one scan + one broadcast anti join: no
    sort-merge join of the fact table, no per-rule scans."""
    res = registry.QUERIES["dq_orders_constraints"](spark, SF_CORRECT)
    plan = plans.executed_plan(res)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gopher_gate_rule_boundaries(spark):
    from go_mailio_diskusage_handler_spark.operators import text as t

    # 50 words, all alpha, 2 stopword kinds, all bigrams distinct
    fifty = " ".join(["the", "and"] + [f"word{i}" for i in range(48)])
    docs = spark.createDataFrame(
        [
            (1, fifty),                                # passes everything
            (2, "the and of to"),                      # < 50 words
            (3, " ".join(["the and"] + ["1 2"] * 30)), # digits: alpha frac low
            (4, " ".join(["zz"] * 60)),                # no stopwords + repetitive
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in t.gopher_rule_gate(docs).collect()}
    assert rows[1]["keep"] is True
    assert rows[2]["r_word_count"] is False and rows[2]["keep"] is False
    assert rows[3]["r_alpha_frac"] is False
    assert rows[4]["r_stopwords"] is False and rows[4]["r_repetition"] is False


def test_gopher_gate_is_shuffle_free(spark):
    """Per-row rule evaluation must not shuffle — the gate is a map."""
    res = registry.QUERIES["text_gopher_rules"](spark, SF_CORRECT)
    plan = plans.executed_plan(res)
    assert "Exchange hashpartitioning" not in plan, plan


def test_dsir_weights_prefer_target_language(spark):
    """Mean log-importance of target-lang ('en') docs must exceed the
    mean over every other language — the defining property of the
    importance weight."""
    from go_mailio_diskusage_handler_spark.operators import curation

    docs = load_table(spark, SF_CORRECT, "documents")
    res = curation.dsir_importance_weights(docs)
    means = {
        r["is_tgt"]: r["m"]
        for r in res.groupBy((F.col("lang") == "en").alias("is_tgt"))
        .agg(F.avg("log_importance").alias("m"))
        .collect()
    }
    assert means[True] > means[False], means


# ---------------------------------------------------------------------------
# Round-8c batch 2: skew report / delete planning / watermark sizing
# ---------------------------------------------------------------------------


def test_skew_report_salt_factor_and_ratio(spark):
    """A key with one 6-row heavy hitter among singletons must report
    max_key_rows=6 and skew_ratio = max*keys/rows; salt stays 1 below
    TARGET_ROWS_PER_TASK."""
    from go_mailio_diskusage_handler_spark.operators import dq

    df = spark.createDataFrame(
        [(1,)] * 6 + [(k,) for k in range(2, 6)], "k bigint"
    )
    row = dq.join_key_skew(df, "t", "k").collect()[0]
    assert row["n_rows"] == 10 and row["n_keys"] == 5
    assert row["max_key_rows"] == 6
    assert row["skew_ratio"] == 3.0  # 6 * 5 / 10
    assert row["salt_factor"] == 1


def test_delete_plan_action_thresholds(spark):
    """skip when untouched, deletion_vector under 20%, rewrite above."""
    from go_mailio_diskusage_handler_spark.sources import compaction

    rows = []
    # partition A: 10 rows, 0 deleted -> skip
    rows += [(i, "a", "2024-01-01 00:00:00", 100 + i) for i in range(10)]
    # partition B: 10 rows, 1 deleted (10%) -> deletion_vector
    rows += [(100 + i, "b", "2024-01-01 00:00:00", 200 + i) for i in range(9)]
    rows += [(199, "b", "2024-01-01 00:00:00", 1)]
    # partition C: 4 rows, 2 deleted (50%) -> rewrite
    rows += [(200, "c", "2024-01-01 00:00:00", 1),
             (201, "c", "2024-01-01 00:00:00", 2),
             (202, "c", "2024-01-01 00:00:00", 300),
             (203, "c", "2024-01-01 00:00:00", 301)]
    ev = spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts_s string, user_id bigint"
    ).select("event_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"),
             "user_id")
    dels = spark.createDataFrame([(1,), (2,)], "user_id bigint")
    got = {r["event_type"]: r for r in
           compaction.plan_delete_vectors(ev, dels).collect()}
    assert got["a"]["action"] == "skip" and got["a"]["n_deleted"] == 0
    assert got["b"]["action"] == "deletion_vector" and got["b"]["n_deleted"] == 1
    assert got["c"]["action"] == "rewrite" and got["c"]["delete_frac"] == 0.5


def test_watermark_plan_measures_reordering(spark):
    """An event arriving after a later-timestamped event is late by
    exactly the high-water-mark gap; in-order streams report zero."""
    from go_mailio_diskusage_handler_spark.operators import sessions

    ev = spark.createDataFrame(
        # arrival order = event_id; type x: t=0, t=100, then t=40 (60s late)
        [(1, "x", "2024-01-01 00:00:00"),
         (2, "x", "2024-01-01 00:01:40"),
         (3, "x", "2024-01-01 00:00:40"),
         # type y: strictly in order
         (4, "y", "2024-01-01 00:00:00"),
         (5, "y", "2024-01-01 00:00:10")],
        "event_id bigint, event_type string, ts_s string",
    ).select("event_id", "event_type", F.col("ts_s").cast("timestamp").alias("ts"))
    got = {r["event_type"]: r for r in
           sessions.watermark_delay_plan(ev).collect()}
    assert got["x"]["max_late_s"] == 60 and got["x"]["late_frac"] == 0.3333
    assert got["y"]["max_late_s"] == 0 and got["y"]["watermark_delay_s"] == 0


def test_agms_estimate_is_usefully_accurate(spark):
    """The median-of-5 sketch estimate must land within 50% of the
    exact join cardinality at fixture scale — far tighter than the
    order-of-magnitude a planner needs, loose enough to never flake
    (the construction is deterministic: fixed hashes, no RNG)."""
    row = registry.QUERIES["join_cardinality_sketch"](spark, SF_CORRECT).collect()[0]
    assert row["actual_rows"] > 0
    assert row["rel_err"] <= 0.5, row


def test_agms_sketch_state_is_bounded(spark):
    """Each side's sketch must aggregate to at most
    ESTIMATORS x BUCKETS rows no matter the input size."""
    from go_mailio_diskusage_handler_spark.operators import dq

    sk = dq._agms_sketch(
        load_table(spark, SF_CORRECT, "events"), "user_id", "l"
    )
    assert sk.count() <= dq.AGMS_ESTIMATORS * dq.AGMS_BUCKETS


def test_psi_detects_injected_shift(spark):
    """A deliberate mean shift in the second half must push PSI past
    the drift threshold, while an unshifted stream stays below it."""
    from go_mailio_diskusage_handler_spark.operators import dq

    n = 400
    rows = []
    for i in range(n):
        ts = f"2024-01-01 {i // 60:02d}:{i % 60:02d}:00"
        rows.append((i, "stable", ts, float(i % 100)))
        # drifted: same values in the first half, +300 in the second
        shift = 300.0 if i >= n // 2 else 0.0
        rows.append((n + i, "shifty", ts, float(i % 100) + shift))
    ev = spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts_s string, value double"
    ).select("event_id", "event_type",
             F.col("ts_s").cast("timestamp").alias("ts"), "value")
    got = {r["event_type"]: r for r in dq.value_drift_psi(ev).collect()}
    assert got["shifty"]["drifted"] is True and got["shifty"]["psi"] > 1.0
    assert got["stable"]["drifted"] is False and got["stable"]["psi"] < 0.1


def test_cogroup_asof_semantics(spark):
    """Strictly-before attribution with tie-break on event_id, and the
    -1 sentinel for purchases with no prior click; a click at exactly
    the purchase timestamp must NOT attribute."""
    from go_mailio_diskusage_handler_spark.functions import udfs

    rows = [
        # user 1: clicks at t1 (two: ids 10, 11), purchase at t2 and
        # a purchase at exactly t1 (no strictly-earlier click)
        (10, 1, "click", "2024-01-01 00:00:01"),
        (11, 1, "click", "2024-01-01 00:00:01"),
        (20, 1, "purchase", "2024-01-01 00:00:05"),
        (21, 1, "purchase", "2024-01-01 00:00:01"),
        # user 2: purchase with no clicks at all
        (30, 2, "purchase", "2024-01-01 00:00:09"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, event_type string, ts_s string"
    ).select("event_id", "user_id", "event_type",
             F.col("ts_s").cast("timestamp").alias("ts"))
    got = {r["event_id"]: r for r in
           udfs.asof_attribution_cogrouped(ev).collect()}
    assert got[20]["click_event_id"] == 11 and got[20]["gap_s"] == 4.0
    assert got[21]["click_event_id"] == -1 and got[21]["gap_s"] == -1.0
    assert got[30]["click_event_id"] == -1


def test_arrow_norms_plan_uses_arrow_eval(spark):
    """mapInArrow must plan as the Arrow map partitions node — no
    pandas conversion layer."""
    df = registry.QUERIES["udf_arrow_norms"](spark, SF_CORRECT)
    plan = plans.executed_plan(df)
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan


def test_psi_flags_brand_new_event_type(spark):
    """A type that exists ONLY in the current half has no reference
    decile bounds; it must surface as maximally drifted (reserved
    bin 0, n_ref = 0), never silently vanish from the report."""
    from go_mailio_diskusage_handler_spark.operators import dq

    rows = []
    for i in range(60):
        rows.append((i, "old", f"2024-01-01 00:{i:02d}:00", float(i)))
        rows.append((100 + i, "old", f"2024-01-03 00:{i:02d}:00", float(i)))
        # "fresh" emits only in the second half
        rows.append((200 + i, "fresh", f"2024-01-03 01:{i:02d}:00", float(i)))
    ev = spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts_s string, value double"
    ).select("event_id", "event_type",
             F.col("ts_s").cast("timestamp").alias("ts"), "value")
    got = {r["event_type"]: r for r in
           __import__("go_mailio_diskusage_handler_spark.operators.dq",
                      fromlist=["dq"]).value_drift_psi(ev).collect()}
    assert "fresh" in got, "new type dropped from the drift report"
    assert got["fresh"]["n_ref"] == 0 and got["fresh"]["drifted"] is True
    assert got["old"]["psi"] == 0.0
