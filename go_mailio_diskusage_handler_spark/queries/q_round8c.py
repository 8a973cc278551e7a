"""Round-8 continuation (batch c): DSIR importance weights, a
Deequ-style data-quality constraint suite, the Gopher fixed-threshold
quality gate, a join-key skew report, GDPR deletion-vector planning,
and watermark-delay sizing from observed lateness.

In-repo oracle parity: the pytest ORACLE_CHECKED lists.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import curation, dq, sessions, text
from ..operators.curation import DSIR_BUCKETS
from ..sources import compaction
from ..sources.tables import load_table
from ._base import register

# DuckDB mirror of curation.dsir_importance_weights: identical gram
# stream (unigrams + word bigrams), identical md5-hex bucket hash,
# identical add-1 smoothing.  SUMs of counts CAST BIGINT (DuckDB
# SUM(int) is HUGEINT-family otherwise).
DSIR_WEIGHTS_SQL = f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    grams AS (
        SELECT doc_id, lang, u.g AS gram
        FROM t, UNNEST(list_concat(w,
            CASE WHEN len(w) >= 2
                 THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                 ELSE []::VARCHAR[] END)) AS u(g)),
    bucketed AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(gram), 1, 8))::BIGINT % {DSIR_BUCKETS} AS bucket
        FROM grams),
    per_doc AS (SELECT doc_id, lang, bucket, COUNT(*) AS cnt
                FROM bucketed GROUP BY 1, 2, 3),
    gstats AS (SELECT bucket,
                    SUM(cnt) AS raw_cnt,
                    SUM(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS tgt_cnt
             FROM per_doc GROUP BY 1),
    tot AS (SELECT SUM(raw_cnt) AS raw_tot, SUM(tgt_cnt) AS tgt_tot FROM gstats),
    wts AS (SELECT bucket,
                   ln((tgt_cnt + 1) * 1.0 / (tgt_tot + {DSIR_BUCKETS}))
                 - ln((raw_cnt + 1) * 1.0 / (raw_tot + {DSIR_BUCKETS})) AS w
            FROM gstats CROSS JOIN tot)
    SELECT doc_id, lang,
           ROUND(SUM(cnt * w), 4) AS log_importance,
           CAST(SUM(cnt) AS BIGINT) AS n_grams
    FROM per_doc JOIN wts USING (bucket)
    GROUP BY 1, 2
"""


@register("curation_dsir_weights", DSIR_WEIGHTS_SQL)
def curation_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] DSIR hashed-ngram importance weights vs the 'en' target
    domain (operators/curation.py:dsir_importance_weights; Xie et al.
    2023, arXiv 2302.03169)."""
    return curation.dsir_importance_weights(load_table(spark, sf_dir, "documents"))


# DuckDB mirror of dq.constraint_suite: same one-pass aggregates over
# orders, same NULL-falls-to-violation CASE arms, same anti-join
# orphan count, assembled as a UNION ALL of 1-row rules.  The
# COALESCEd SUMs and GREATEST-floored denominators mirror the Spark
# side's empty-table hardening (ADVICE r8).
DQ_CONSTRAINTS_SQL = """
    WITH a AS (
        SELECT COUNT(*) AS n_rows,
               COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END), 0)
                   AS null_ck,
               COUNT(DISTINCT o_orderkey) AS d_ok,
               COALESCE(SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P')
                                 THEN 0 ELSE 1 END), 0) AS bad_status,
               COALESCE(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END), 0)
                   AS neg_price
        FROM orders),
    o AS (
        SELECT COUNT(*) AS orphan_rows
        FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) ord
        LEFT JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey IS NULL)
    SELECT 'completeness:o_custkey' AS rule,
           -- numerator floors n_rows too, matching the Spark side's
           -- (greatest(n_rows,1) - null_ck) / greatest(n_rows,1): an
           -- empty table reads vacuously complete (1.0) in BOTH engines
           ROUND(CAST((GREATEST(n_rows, 1) - null_ck) * 1.0
                      / GREATEST(n_rows, 1) AS DOUBLE), 6)
               AS metric,
           CASE WHEN null_ck = 0 THEN 'PASS' ELSE 'FAIL' END AS status
    FROM a
    UNION ALL
    SELECT 'uniqueness:o_orderkey',
           ROUND(CAST(d_ok * 1.0 / GREATEST(n_rows, 1) AS DOUBLE), 6),
           CASE WHEN d_ok = n_rows THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'domain:o_orderstatus',
           ROUND(CAST(bad_status AS DOUBLE), 6),
           CASE WHEN bad_status = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'non_negative:o_totalprice',
           ROUND(CAST(neg_price AS DOUBLE), 6),
           CASE WHEN neg_price = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'referential:o_custkey->c_custkey',
           ROUND(CAST(orphan_rows AS DOUBLE), 6),
           CASE WHEN orphan_rows = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM o
"""


@register("dq_orders_constraints", DQ_CONSTRAINTS_SQL)
def dq_orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Declarative Deequ-style constraint suite over orders
    (operators/dq.py:constraint_suite) — the scale-correct replacement
    for the reference's log.Fatalf ingest posture (handler.go:176)."""
    return dq.constraint_suite(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "customer")
    )


# DuckDB mirror of text.gopher_rule_gate: same tokenization, same
# guarded bigram list, same thresholds.
GOPHER_RULES_SQL = """
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
    b AS (SELECT doc_id, text, w, len(w) AS n,
                 CASE WHEN len(w) >= 2
                      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                      ELSE []::VARCHAR[] END AS bg
          FROM t),
    r AS (SELECT doc_id,
                 CAST(n AS INTEGER) AS n_words,
                 (n BETWEEN 50 AND 100000) AS r_word_count,
                 ((length(text) - n + 1) * 1.0 / n BETWEEN 3.0 AND 10.0)
                     AS r_mean_word_len,
                 (len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0 / n
                     >= 0.8) AS r_alpha_frac,
                 (len(list_intersect(w, ['the','and','of','to','a','in','is','it']))
                     >= 2) AS r_stopwords,
                 (CASE WHEN len(bg) = 0 THEN 0.0
                       ELSE 1.0 - len(list_distinct(bg)) * 1.0 / len(bg) END
                     <= 0.3) AS r_repetition
          FROM b)
    SELECT doc_id, n_words, r_word_count, r_mean_word_len, r_alpha_frac,
           r_stopwords, r_repetition,
           (r_word_count AND r_mean_word_len AND r_alpha_frac AND r_stopwords
            AND r_repetition) AS keep
    FROM r
"""


@register("text_gopher_rules", GOPHER_RULES_SQL)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Gopher/MassiveText fixed-threshold rule gate with per-rule
    flags (operators/text.py:gopher_rule_gate; Rae et al. 2021,
    arXiv 2112.11446 table A1)."""
    return text.gopher_rule_gate(load_table(spark, sf_dir, "documents"))


# DuckDB mirror of dq.join_key_skew_report: same two-level aggregate
# per (table, key); SUM/GREATEST+CEIL cast BIGINT (DuckDB SUM is
# HUGEINT, CEIL is DOUBLE).
def _skew_sql(table: str, key: str) -> str:
    return f"""
    SELECT '{table}' AS table_name, '{key}' AS key_name,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           ROUND(SUM(c) * 1.0 / COUNT(*), 4) AS avg_key_rows,
           ROUND(MAX(c) * COUNT(*) * 1.0 / SUM(c), 4) AS skew_ratio,
           CAST(GREATEST(1, CEIL(MAX(c) / 100000.0)) AS BIGINT) AS salt_factor
    FROM (SELECT {key}, COUNT(*) AS c FROM {table} GROUP BY {key})
    """


JOIN_SKEW_SQL = " UNION ALL ".join(
    [
        _skew_sql("orders", "o_custkey"),
        _skew_sql("lineitem", "l_orderkey"),
        _skew_sql("events", "user_id"),
    ]
)


@register("profile_join_skew", JOIN_SKEW_SQL)
def profile_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Pre-flight join-key skew report: per-key cardinality
    profile + recommended salt factor for the engine's recurring join
    keys (operators/dq.py:join_key_skew_report)."""
    return dq.join_key_skew_report(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "events"),
    )


# DuckDB mirror of compaction.plan_delete_vectors with the synthetic
# user_id % 29 = 3 purge list — same broadcast-shaped mark join, same
# per-(event_type, day) tally and action thresholds.
DELETE_PLAN_SQL = """
    WITH del AS (SELECT DISTINCT user_id FROM events WHERE user_id % 29 = 3),
    m AS (SELECT e.event_type, strftime(CAST(e.ts AS DATE), '%Y-%m-%d') AS day,
                 CASE WHEN d.user_id IS NULL THEN 0 ELSE 1 END AS is_del
          FROM events e LEFT JOIN del d USING (user_id))
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(is_del) AS BIGINT) AS n_deleted,
           ROUND(SUM(is_del) * 1.0 / COUNT(*), 4) AS delete_frac,
           CASE WHEN SUM(is_del) = 0 THEN 'skip'
                WHEN SUM(is_del) * 1.0 / COUNT(*) > 0.2 THEN 'rewrite'
                ELSE 'deletion_vector' END AS action
    FROM m GROUP BY 1, 2
"""


@register("events_delete_plan", DELETE_PLAN_SQL)
def events_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] GDPR-purge planning: per-partition rewrite vs
    deletion-vector vs skip decision for a broadcast delete-list
    (sources/compaction.py:plan_delete_vectors)."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    delete_users = (
        events.select("user_id").where(F.col("user_id") % 29 == 3).distinct()
    )
    return compaction.plan_delete_vectors(events, delete_users)


# DuckDB mirror of sessions.watermark_delay_plan over the jittered
# arrival sequence: identical window frame (ties broken on event_id),
# identical quantile interpolation (quantile_cont == F.percentile).
WATERMARK_PLAN_SQL = """
    WITH e AS (SELECT *, event_id + (event_id % 13) * 40 AS arrival_seq
               FROM events),
    l AS (SELECT event_type,
                 CAST(date_diff('second', ts,
                      MAX(ts) OVER (PARTITION BY event_type
                                    ORDER BY arrival_seq, event_id
                                    ROWS UNBOUNDED PRECEDING)) AS BIGINT)
                     AS late_s
          FROM e)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
               AS late_frac,
           ROUND(quantile_cont(late_s, 0.5), 2) AS p50_late_s,
           ROUND(quantile_cont(late_s, 0.99), 2) AS p99_late_s,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s,
           CAST(CEIL(quantile_cont(late_s, 0.99) / 60) * 60 AS BIGINT)
               AS watermark_delay_s
    FROM l GROUP BY 1
"""


@register("events_watermark_plan", WATERMARK_PLAN_SQL)
def events_watermark_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Watermark sizing from observed lateness quantiles over a
    deterministic jittered arrival sequence (fixture events arrive in
    event-time order, so the jitter simulates network reordering;
    operators/sessions.py:watermark_delay_plan)."""
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events").withColumn(
        "arrival_seq", F.col("event_id") + (F.col("event_id") % 13) * 40
    )
    return sessions.watermark_delay_plan(events, arrival="arrival_seq")


# DuckDB mirror of dq.join_cardinality_estimate over orders x events
# on custkey = user_id: same salted-md5 bucket/sign derivation, same
# 5-estimator median (odd count -> quantile_cont picks an exact
# element, so the BIGINT casts agree), counts CAST BIGINT.
AGMS_JOIN_EST_SQL = """
    WITH li AS (SELECT CAST(o_custkey AS VARCHAR) AS k, t.i
                FROM orders CROSS JOIN range(0, 5) t(i)),
    ri AS (SELECT CAST(user_id AS VARCHAR) AS k, t.i
           FROM events CROSS JOIN range(0, 5) t(i)),
    ls AS (SELECT i,
                  ('0x' || substr(md5(i || ':' || k), 1, 8))::BIGINT % 256
                      AS bucket,
                  SUM(1 - 2 * (('0x' || substr(md5(i || ':' || k), 9, 1))::BIGINT
                               % 2)) AS s_l
           FROM li GROUP BY 1, 2),
    rs AS (SELECT i,
                  ('0x' || substr(md5(i || ':' || k), 1, 8))::BIGINT % 256
                      AS bucket,
                  SUM(1 - 2 * (('0x' || substr(md5(i || ':' || k), 9, 1))::BIGINT
                               % 2)) AS s_r
           FROM ri GROUP BY 1, 2),
    per_est AS (SELECT i, SUM(s_l * s_r) AS est
                FROM ls JOIN rs USING (i, bucket) GROUP BY i),
    est AS (SELECT CAST(quantile_cont(est, 0.5) AS BIGINT) AS est_rows
            FROM per_est),
    lc AS (SELECT o_custkey AS k, COUNT(*) AS cl FROM orders GROUP BY 1),
    rc AS (SELECT user_id AS k, COUNT(*) AS cr FROM events GROUP BY 1),
    act AS (SELECT CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT) AS actual_rows
            FROM lc JOIN rc USING (k))
    SELECT actual_rows, est_rows,
           ROUND(ABS(est_rows - actual_rows) * 1.0
                 / GREATEST(actual_rows, 1), 4) AS rel_err
    FROM act CROSS JOIN est
"""


@register("join_cardinality_sketch", AGMS_JOIN_EST_SQL)
def join_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] AGMS sketch join-cardinality estimate (orders x events on
    custkey = user_id) vs the exact per-key-count answer
    (operators/dq.py:join_cardinality_estimate) — the CBO-style
    pre-join size probe."""
    return dq.join_cardinality_estimate(
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
        load_table(spark, sf_dir, "events"),
        "user_id",
    )


# DuckDB mirror of dq.value_drift_psi: same floored-epoch midpoint
# split, same per-type reference deciles (quantile_cont ==
# F.percentile), same floored shares and PSI fold.
DRIFT_PSI_SQL = """
    WITH span AS (SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS t0,
                         CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS t1
                  FROM events),
    tagged AS (SELECT event_type, value,
                      CAST(FLOOR(epoch(ts)) AS BIGINT)
                          < (t0 + (t1 - t0) / 2.0) AS is_ref
               FROM events CROSS JOIN span
               WHERE value IS NOT NULL),
    bounds AS (SELECT event_type,
                      quantile_cont(value, 0.1) AS b1,
                      quantile_cont(value, 0.2) AS b2,
                      quantile_cont(value, 0.3) AS b3,
                      quantile_cont(value, 0.4) AS b4,
                      quantile_cont(value, 0.5) AS b5,
                      quantile_cont(value, 0.6) AS b6,
                      quantile_cont(value, 0.7) AS b7,
                      quantile_cont(value, 0.8) AS b8,
                      quantile_cont(value, 0.9) AS b9
               FROM tagged WHERE is_ref GROUP BY event_type),
    binned AS (SELECT t.event_type, t.is_ref,
                      CASE WHEN b1 IS NULL THEN 0 ELSE
                      1 + CASE WHEN value > b1 THEN 1 ELSE 0 END
                        + CASE WHEN value > b2 THEN 1 ELSE 0 END
                        + CASE WHEN value > b3 THEN 1 ELSE 0 END
                        + CASE WHEN value > b4 THEN 1 ELSE 0 END
                        + CASE WHEN value > b5 THEN 1 ELSE 0 END
                        + CASE WHEN value > b6 THEN 1 ELSE 0 END
                        + CASE WHEN value > b7 THEN 1 ELSE 0 END
                        + CASE WHEN value > b8 THEN 1 ELSE 0 END
                        + CASE WHEN value > b9 THEN 1 ELSE 0 END END AS bin
               FROM tagged t LEFT JOIN bounds USING (event_type)),
    shares AS (SELECT event_type, bin,
                      SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS n_ref,
                      SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS n_cur
               FROM binned GROUP BY 1, 2),
    terms AS (SELECT event_type, n_ref, n_cur,
                     (GREATEST(n_ref * 1.0 / GREATEST(SUM(n_ref) OVER (PARTITION BY event_type), 1), 1e-6)
                      - GREATEST(n_cur * 1.0 / GREATEST(SUM(n_cur) OVER (PARTITION BY event_type), 1), 1e-6))
                     * ln(GREATEST(n_ref * 1.0 / GREATEST(SUM(n_ref) OVER (PARTITION BY event_type), 1), 1e-6)
                          / GREATEST(n_cur * 1.0 / GREATEST(SUM(n_cur) OVER (PARTITION BY event_type), 1), 1e-6))
                         AS psi_term
              FROM shares)
    SELECT event_type,
           CAST(SUM(n_ref) AS BIGINT) AS n_ref,
           CAST(SUM(n_cur) AS BIGINT) AS n_cur,
           ROUND(SUM(psi_term), 4) AS psi,
           (SUM(psi_term) > 0.1) AS drifted
    FROM terms GROUP BY 1
"""


@register("events_drift_psi", DRIFT_PSI_SQL)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Population Stability Index drift monitor: per-type value
    distribution of the second half of the time range vs
    reference-decile bins from the first half
    (operators/dq.py:value_drift_psi)."""
    return dq.value_drift_psi(load_table(spark, sf_dir, "events"))


# DuckDB mirror of udfs.asof_attribution_cogrouped: for each purchase
# the last click strictly before it per user (ties on click ts break
# to max event_id); gap in exact microsecond-resolution seconds;
# -1 sentinels for purchases with no prior click.
COGROUP_ASOF_SQL = """
    WITH p AS (SELECT user_id, event_id, ts FROM events
               WHERE event_type = 'purchase' AND user_id < 200),
    c AS (SELECT user_id, event_id, ts FROM events
          WHERE event_type = 'click' AND user_id < 200),
    best AS (SELECT p.event_id,
                    MAX(struct_pack(ts := c.ts, eid := c.event_id)) AS b
             FROM p JOIN c ON p.user_id = c.user_id AND c.ts < p.ts
             GROUP BY p.event_id)
    SELECT p.user_id, p.event_id,
           COALESCE(b.eid, -1) AS click_event_id,
           COALESCE(date_diff('microsecond', b.ts, p.ts) / 1000000.0, -1.0)
               AS gap_s
    FROM p LEFT JOIN best ON p.event_id = best.event_id
"""


@register("udf_cogroup_asof", COGROUP_ASOF_SQL)
def udf_cogroup_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] cogroup().applyInPandas as-of attribution: per-user
    purchase/click frames merged with pd.merge_asof in one Arrow batch
    pair (functions/udfs.py:asof_attribution_cogrouped)."""
    from ..functions import udfs

    return udfs.asof_attribution_cogrouped(
        load_table(spark, sf_dir, "events"), max_user_id=200
    )


# DuckDB mirror of udfs.embedding_norms_arrow: float32 -> double
# upcast BEFORE squaring, sequential fold, round 6.
ARROW_NORMS_SQL = """
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           ROUND(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
    FROM embeddings
"""


@register("udf_arrow_norms", ARROW_NORMS_SQL)
def udf_arrow_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] mapInArrow L2 norms over the raw Arrow buffers — offsets +
    np.add.reduceat on the flat value buffer, no pandas conversion
    (functions/udfs.py:embedding_norms_arrow)."""
    from ..functions import udfs

    return udfs.embedding_norms_arrow(load_table(spark, sf_dir, "embeddings"))


# DuckDB mirror of dq.inventory_constraint_suite over the same derived
# inventory every du_* oracle uses: one aggregation pass, one row per
# rule, NULL-safe via the same CASE arms.
DU_INGEST_CONSTRAINTS_SQL = """
    WITH inventory AS (
        SELECT CASE WHEN l_linenumber = 7 THEN CAST(l_orderkey AS VARCHAR)
                    ELSE CAST(l_orderkey AS VARCHAR) || '/' ||
                         CAST(l_linenumber AS VARCHAR)
               END AS key,
               l_extendedprice AS size
        FROM lineitem),
    a AS (
        SELECT COUNT(*) AS n_rows,
               COALESCE(SUM(CASE WHEN key IS NULL THEN 1 ELSE 0 END), 0)
                   AS null_keys,
               COALESCE(SUM(CASE WHEN size IS NULL THEN 1 ELSE 0 END), 0)
                   AS null_sizes,
               COALESCE(SUM(CASE WHEN size < 0 THEN 1 ELSE 0 END), 0)
                   AS neg_sizes,
               COALESCE(SUM(CASE WHEN len(string_split(key, '/')) >= 2
                                 THEN 0 ELSE 1 END), 0) AS malformed_keys
        FROM inventory)
    SELECT 'completeness:key' AS rule,
           ROUND(CAST(null_keys AS DOUBLE), 6) AS metric,
           CASE WHEN null_keys = 0 THEN 'PASS' ELSE 'FAIL' END AS status
    FROM a
    UNION ALL
    SELECT 'completeness:size', ROUND(CAST(null_sizes AS DOUBLE), 6),
           CASE WHEN null_sizes = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'non_negative:size', ROUND(CAST(neg_sizes AS DOUBLE), 6),
           CASE WHEN neg_sizes = 0 THEN 'PASS' ELSE 'FAIL' END
    FROM a
    UNION ALL
    SELECT 'malformed_frac:key',
           ROUND(CAST(malformed_keys * 1.0 / GREATEST(n_rows, 1) AS DOUBLE), 6),
           CASE WHEN malformed_keys * 1.0 / GREATEST(n_rows, 1) <= 0.5
                THEN 'PASS' ELSE 'FAIL' END
    FROM a
"""


@register("du_ingest_constraints", DU_INGEST_CONSTRAINTS_SQL)
def du_ingest_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] The refresher's swap-gate rule set over the reference-
    shaped inventory, as an oracle-checked report
    (operators/dq.py:inventory_constraint_suite; gate enforcement in
    streaming/refresh.py:DiskUsageHandler)."""
    from ..operators.core import inventory_from_lineitem

    return dq.inventory_constraint_suite(
        inventory_from_lineitem(load_table(spark, sf_dir, "lineitem"))
    )


# DuckDB mirror of dq.sampled_group_estimate: identical md5-bucket
# sample predicate, identical scale-up, SUMs of counts CAST BIGINT.
AQP_SAMPLED_SQL = """
    WITH t AS (
        SELECT o_orderpriority, o_totalprice,
               (('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))::BIGINT
                % 16 = 0) AS in_sample
        FROM orders)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           ROUND(SUM(o_totalprice), 2) AS exact_sum,
           ROUND(SUM(CASE WHEN in_sample THEN o_totalprice END) * 16, 2)
               AS est_sum,
           ROUND(ABS(SUM(CASE WHEN in_sample THEN o_totalprice END) * 16
                     - SUM(o_totalprice)) / SUM(o_totalprice), 4) AS rel_err
    FROM t GROUP BY 1
"""


@register("aqp_sampled_revenue", AQP_SAMPLED_SQL)
def aqp_sampled_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] BlinkDB-style AQP: per-priority revenue estimated from a
    deterministic 1/16 md5-bucket sample, reported against the exact
    answer in the same pass (operators/dq.py:sampled_group_estimate)."""
    return dq.sampled_group_estimate(load_table(spark, sf_dir, "orders"))


# DuckDB mirror of scalars.collation_distinct_labels: UNICODE_CI
# equivalence == lower() classes on the ASCII fixture.
COLLATION_CI_SQL = """
    WITH t AS (SELECT source,
                      CASE WHEN doc_id % 2 = 0
                           THEN upper(string_split(text, ' ')[1])
                           ELSE string_split(text, ' ')[1] END AS label
               FROM documents)
    SELECT source,
           CAST(COUNT(DISTINCT label) AS BIGINT) AS distinct_binary,
           CAST(COUNT(DISTINCT lower(label)) AS BIGINT) AS distinct_ci
    FROM t GROUP BY 1
"""


@register("scalar_collation_ci", COLLATION_CI_SQL)
def scalar_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Spark 4 collations: distinct counts under binary vs
    UNICODE_CI collation over a deterministic mixed-case label
    (functions/scalars.py:collation_distinct_labels)."""
    from ..functions import scalars

    return scalars.collation_distinct_labels(load_table(spark, sf_dir, "documents"))
