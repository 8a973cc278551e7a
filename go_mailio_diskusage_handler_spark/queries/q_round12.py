"""Round-12 additions (8): the scale-correct windowed twin of the
table-argument UDTF (VERDICT r11 #4), multiset INTERSECT ALL,
dynamic-gap session windows, date-function breadth, URL
canonicalization (the CommonCrawl-pipeline dedup key), null-guard
function breadth, closed-form least squares by distributed normal
equations, and the embeddings-table constraint suite.

In-repo oracle parity: ``tests/test_round12.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from ..sql import register_views
from ._base import register
from .q_round8 import DIRECTION_CHANGES_SQL


# ---------------------------------------------------------------------------
# window_direction_changes — built-in twin of udtf_table_arg_changes
# ---------------------------------------------------------------------------

@register("window_direction_changes", DIRECTION_CHANGES_SQL)
def window_direction_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Per-user direction-change counting in PURE built-in
    window functions — the scale-correct twin of
    ``udtf_table_arg_changes`` (VERDICT r11 #4): identical semantics
    (same oracle), but where the UDTF variant exists to exercise the
    TABLE-argument UDTF *surface* (one Python process per partition),
    this form stays entirely inside whole-stage codegen — zero Python
    eval nodes (plan-asserted in tests/test_round12.py), so it is the
    shape a 100 TB run should use.

    Scale: both window specs share the (user_id) partitioning and
    (ts, event_id) sort, so Catalyst evaluates them in ONE shuffle +
    sort pass; the two trailing aggregates reuse the same hash key.
    The deterministic (ts, event_id) tiebreak makes the lag stream —
    and therefore the count — partitioning-invariant."""
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "event_id", "ts", "value")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nz = (
        e.withColumn("diff", F.col("value") - F.lag("value").over(w))
        .filter(F.col("diff").isNotNull() & (F.col("diff") != 0))
        .withColumn("s", F.signum("diff"))
    )
    ch = nz.withColumn(
        "c", F.when(F.col("s") != F.lag("s").over(w), F.lit(1)).otherwise(F.lit(0))
    )
    changes = ch.groupBy("user_id").agg(
        F.sum("c").alias("direction_changes")
    )
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    return counts.join(changes, "user_id", "left").select(
        "user_id",
        "n_events",
        F.coalesce(F.col("direction_changes"), F.lit(0).cast("long")).alias(
            "direction_changes"
        ),
    )


# ---------------------------------------------------------------------------
# setop_repeat_buyers_intersect_all — INTERSECT ALL multiset semantics
# ---------------------------------------------------------------------------

# DuckDB mirror: INTERSECT ALL is ISO multiset intersection in both
# engines — per key, min(multiplicity_early, multiplicity_late).
SETOP_INTERSECT_ALL_ORACLE = """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_common FROM (
        SELECT o_custkey FROM orders WHERE year(o_orderdate) <= 1995
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1996
    ) GROUP BY o_custkey
"""


@register("setop_repeat_buyers_intersect_all", SETOP_INTERSECT_ALL_ORACLE)
def setop_repeat_buyers_intersect_all(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """[EXT] ``DataFrame.intersectAll`` — ISO multiset INTERSECT ALL:
    per customer, min(early-period orders, late-period orders) — the
    sustained-activity multiplicity that distinct INTERSECT
    (`setop_retained_customers`) collapses to membership, completing
    the multiset set-op pair with `setop_churned_buyers_except_all`.

    Scale: Spark plans intersectAll as one hash aggregate computing
    per-key (count_left, count_right) and replicating min(l, r) rows
    — one shuffle on the key, no join; the trailing groupBy reuses
    the same hash partitioning."""
    orders = load_table(spark, sf_dir, "orders")
    early = orders.filter(F.year("o_orderdate") <= 1995).select("o_custkey")
    late = orders.filter(F.year("o_orderdate") >= 1996).select("o_custkey")
    return (
        early.intersectAll(late)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


# ---------------------------------------------------------------------------
# events_session_dynamic_gap — session_window with per-event gap
# ---------------------------------------------------------------------------

_GAP_PURCHASE_US = 30 * 60 * 1_000_000
_GAP_DEFAULT_US = 10 * 60 * 1_000_000

# DuckDB mirror of Spark's dynamic-gap session merge: each event spans
# [us, us + gap(event)); a new session starts when the event's start
# is >= the running max of all PRIOR event ends (interval-union
# semantics — the same >=-closes rule the static-gap oracle in
# q_relational2.py pins).  The (us, event_id) tiebreak makes the
# running max deterministic; grouping is tie-order-invariant because
# a tied event always lands inside its predecessor's open interval.
SESSION_DYNAMIC_GAP_ORACLE = f"""
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                      CASE WHEN event_type = 'purchase'
                           THEN {_GAP_PURCHASE_US}
                           ELSE {_GAP_DEFAULT_US} END AS gap_us
               FROM events),
    m AS (SELECT user_id, event_id, us, gap_us,
                 MAX(us + gap_us) OVER
                     (PARTITION BY user_id ORDER BY us, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prior_end
          FROM e),
    f AS (SELECT user_id, event_id, us, gap_us,
                 CASE WHEN prior_end IS NULL OR us >= prior_end
                      THEN 1 ELSE 0 END AS new_session
          FROM m),
    s AS (SELECT user_id, us, gap_us,
                 SUM(new_session) OVER
                     (PARTITION BY user_id ORDER BY us, event_id
                      ROWS UNBOUNDED PRECEDING) AS seq
          FROM f)
    SELECT user_id,
           MIN(us) AS session_start_us,
           MAX(us + gap_us) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, seq
"""


@register("events_session_dynamic_gap", SESSION_DYNAMIC_GAP_ORACLE)
def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] ``F.session_window`` with a DYNAMIC per-event gap
    (Spark 3.2+): a purchase holds the session open 30 minutes, any
    other event 10 — the engagement-weighted sessionization static
    gaps can't express.  Bounds are emitted as epoch micros
    (``unix_micros``), the host-zone-safe convention the round-11 TZ
    sweep mandated for timestamp outputs.

    Scale: identical to static session_window — one shuffle on
    user_id, then Spark's in-partition sort + interval merge
    (MergingSessions); state per open session is O(1) and the dynamic
    gap adds only a codegen CASE to the window-assign expression, so
    the streaming twin (`streaming/` watermark + session window)
    carries over unchanged."""
    events = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        events.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# scalar_datetime_breadth — date-function surface in one pass
# ---------------------------------------------------------------------------

# DuckDB mirrors each function modulo dialect: date_trunc returns
# TIMESTAMP (cast back to DATE), dayofweek is 0=Sunday..6 (Spark is
# 1=Sunday..7 — the predicate compares the same two weekend days),
# date + INTERVAL yields DATE-convertible results with the same
# end-of-month clamp as Spark's add_months, and datediff('day',...)
# matches Spark's datediff(end, start).  Date outputs are emitted as
# 'yyyy-MM-dd' STRINGS — the repo-wide cross-engine convention
# (DuckDB DATE surfaces as datetime64 through pandas while Spark DATE
# surfaces as object, so raw dates fail the dtype-group gate) — and
# the rest are BIGINT: no floats, no rounding, no timezone surface.
SCALAR_DATETIME_ORACLE = """
    SELECT strftime(CAST(date_trunc('month', o_orderdate) AS DATE),
                    '%Y-%m-%d') AS month_start,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(count_if(dayofweek(o_orderdate) IN (0, 6)) AS BIGINT)
               AS n_weekend,
           strftime(MAX(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE)),
                    '%Y-%m-%d') AS max_plus3m,
           CAST(MIN(datediff('day', o_orderdate, DATE '1998-12-31'))
                AS BIGINT) AS min_days_left
    FROM orders GROUP BY 1, 2
"""


@register("scalar_datetime_breadth", SCALAR_DATETIME_ORACLE)
def scalar_datetime_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Date-function breadth in one aggregation pass:
    ``trunc('month')``, ``last_day``, ``dayofweek``, ``add_months``
    (end-of-month clamped), and ``datediff`` — the calendar toolkit a
    partition-pruned date-keyed lakehouse layout leans on, exercised
    over pure DATE arithmetic so there is no timezone or float
    surface at all.

    Scale: one map-side-combined hash aggregate over ~84 month keys;
    every expression is whole-stage codegen.  The (month_start,
    month_end) pair is functionally dependent, so the key stays
    1-month-sized — this is the pre-aggregation you'd feed a
    partition-pruning BI layer."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.trunc("o_orderdate", "month").alias("month_start_d"),
            F.last_day("o_orderdate").alias("month_end_d"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(
                F.dayofweek("o_orderdate").isin(1, 7)
            ).alias("n_weekend"),
            F.max(F.add_months("o_orderdate", 3)).alias("max_plus3m_d"),
            F.min(
                F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate"))
            )
            .cast("long")
            .alias("min_days_left"),
        )
        .select(
            F.date_format("month_start_d", "yyyy-MM-dd").alias("month_start"),
            F.date_format("month_end_d", "yyyy-MM-dd").alias("month_end"),
            "n_orders",
            "n_weekend",
            F.date_format("max_plus3m_d", "yyyy-MM-dd").alias("max_plus3m"),
            "min_days_left",
        )
    )


# ---------------------------------------------------------------------------
# text_url_canonicalize — URL parsing + canonical dedup counts
# ---------------------------------------------------------------------------

# Per-doc URLs are SYNTHESIZED from typed columns (source/lang/doc_id)
# so the DuckDB oracle can verify the whole parse+canonicalize pipeline
# from raw values: host extraction mirrors parse_url(HOST) via regexp,
# the tracking-parameter strip mirrors the regexp_replace, and every
# output is a deterministic string/BIGINT.  doc_id % 5 routes a fifth
# of the docs to an uppercase host spelling and doc_id % 3 appends a
# fragment, so the lowercase-host and fragment-drop rules are actually
# load-bearing in the compare.
URL_CANONICALIZE_ORACLE = """
    WITH u AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN 'https://WWW.' || upper(source) || '.example.com'
                    ELSE 'https://www.' || source || '.example.com' END
               || '/' || lang || '/doc/' || doc_id
               || '?utm_source=feed&id=' || (doc_id % 7)
               || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END AS url
        FROM documents),
    parsed AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS host,
               regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query
        FROM u),
    canon AS (
        SELECT doc_id, host,
               host || path ||
               CASE WHEN trim(regexp_replace(query,
                         '(^|&)utm_[^&]*', '', 'g'), '&') = ''
                    THEN ''
                    ELSE '?' || trim(regexp_replace(query,
                         '(^|&)utm_[^&]*', '', 'g'), '&') END AS canonical
        FROM parsed)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_canonical,
           MIN(canonical) AS sample_url
    FROM canon GROUP BY host
"""


@register("text_url_canonicalize", URL_CANONICALIZE_ORACLE)
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] URL canonicalization — the CommonCrawl-pipeline dedup
    key: ``parse_url`` host/path/query extraction, lowercased host,
    fragment dropped (parse_url never returns it), ``utm_*`` tracking
    parameters stripped by one regexp pass — then per-host exact-dup
    accounting on the canonical form.  This is the normalization tier
    that runs BEFORE content dedup in a web-scale corpus: two fetches
    of one page differing only in tracking params must collapse.

    Scale: parse_url and the regexp are whole-stage-codegen
    expressions; one hash aggregate on host (bounded by the source
    domain), with the distinct-canonical count inside the same
    shuffle.  No Python, no second pass."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("https://WWW."), F.upper("source"),
                     F.lit(".example.com")),
        ).otherwise(
            F.concat(F.lit("https://www."), F.col("source"),
                     F.lit(".example.com"))
        ),
        F.lit("/"), F.col("lang"), F.lit("/doc/"), F.col("doc_id"),
        F.lit("?utm_source=feed&id="), F.col("doc_id") % 7,
        F.when(F.col("doc_id") % 3 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    parsed = docs.select(
        "doc_id",
        F.lower(F.parse_url(url, F.lit("HOST"))).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
    )
    cleaned = F.expr("trim(BOTH '&' FROM regexp_replace(query, '(^|&)utm_[^&]*', ''))")
    canon = parsed.select(
        "host",
        F.concat(
            F.col("host"), F.col("path"),
            F.when(cleaned == "", F.lit("")).otherwise(F.concat(F.lit("?"), cleaned)),
        ).alias("canonical"),
    )
    return canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(F.col("canonical")).alias("n_canonical"),
        F.min("canonical").alias("sample_url"),
    )


# ---------------------------------------------------------------------------
# scalar_null_guards — null-handling function breadth, integer-exact
# ---------------------------------------------------------------------------

# DuckDB mirrors each guard with its ISO equivalent (COALESCE / NULLIF
# / CASE); every value is integer arithmetic so the compare is exact.
NULL_GUARDS_ORACLE = """
    WITH t AS (
        SELECT l_returnflag,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_cents,
               l_linenumber
        FROM lineitem)
    SELECT l_returnflag,
           CAST(count_if(NULLIF(disc_cents, 0) IS NULL) AS BIGINT)
               AS n_zero_disc,
           CAST(SUM(COALESCE(NULLIF(l_linenumber, 3), 0)) AS BIGINT)
               AS s_zeroifnull,
           CAST(SUM(CASE WHEN NULLIF(l_returnflag, 'N') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(count_if((CASE WHEN disc_cents = 0 THEN NULL
                               ELSE l_linenumber / disc_cents END) IS NULL)
                AS BIGINT) AS n_div_null
    FROM t GROUP BY l_returnflag
"""


@register("scalar_null_guards", NULL_GUARDS_ORACLE)
def scalar_null_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Null-guard function breadth in one aggregate:
    ``nullifzero`` / ``zeroifnull`` (SQL:2023, Spark 4.0), ``nvl2``,
    and ``try_divide`` (ANSI-safe division that yields NULL on zero
    instead of erroring) — the idioms a pipeline uses to keep
    ANSI-mode jobs from dying on degenerate denominators.  All paths
    are integer arithmetic, so the oracle compare is exact.

    Scale: one map-side-combined hash aggregate over the 3-value flag
    key; every guard is a codegen expression."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_discount") * 100).cast("long")
    t = lineitem.select(
        "l_returnflag", cents.alias("disc_cents"), "l_linenumber"
    )
    return t.groupBy("l_returnflag").agg(
        F.count_if(F.nullifzero("disc_cents").isNull()).alias("n_zero_disc"),
        F.sum(
            F.zeroifnull(F.nullif(F.col("l_linenumber"), F.lit(3)))
        ).alias("s_zeroifnull"),
        F.sum(
            F.nvl2(F.nullif(F.col("l_returnflag"), F.lit("N")),
                   F.lit(1), F.lit(0))
        ).cast("long").alias("n_flagged"),
        F.count_if(
            F.try_divide(F.col("l_linenumber"), F.col("disc_cents")).isNull()
        ).alias("n_div_null"),
    )


# ---------------------------------------------------------------------------
# stat_linreg_normal_eq — closed-form least squares via moment sums
# ---------------------------------------------------------------------------

# ONE SQL text runs on BOTH engines (Spark over registered views,
# DuckDB over the oracle views), so the floating-point expression DAG
# is identical by construction.  Determinism layer by layer:
#   * every moment is a SUM of EXACT integers in DECIMAL(38,0) —
#     associativity-free, so shuffle/partition order cannot move a
#     bit (the y·y sum reaches ~2e18 and would overflow BIGINT at
#     sf0.1, hence decimal);
#   * the casts to DOUBLE are correctly rounded conversions of exact
#     decimal values;
#   * the Cramer solve / R² algebra below them is a fixed tree of
#     IEEE-correctly-rounded * / - ops on those doubles — identical
#     inputs + identical tree = identical bits in both engines (the
#     same argument as text_hash_classifier's algebraic sigmoid).
STAT_LINREG_SQL = """
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,0))) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(l_linenumber AS DECIMAL(38,0))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,0)))
                  AS DOUBLE) AS sx11,
             CAST(SUM(CAST(l_quantity * l_linenumber AS DECIMAL(38,0)))
                  AS DOUBLE) AS sx12,
             CAST(SUM(CAST(l_linenumber * l_linenumber AS DECIMAL(38,0)))
                  AS DOUBLE) AS sx22,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS DECIMAL(38,0)))
                  AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * ROUND(l_extendedprice * 100)
                  AS DECIMAL(38,0))) AS DOUBLE) AS sx1y,
             CAST(SUM(CAST(l_linenumber * ROUND(l_extendedprice * 100)
                  AS DECIMAL(38,0))) AS DOUBLE) AS sx2y,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100)
                  * ROUND(l_extendedprice * 100) AS DECIMAL(38,0)))
                  AS DOUBLE) AS syy
      FROM lineitem),
    solved AS (
      SELECT n, sy, sx1y, sx2y, syy,
             (n * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx12 - sx11 * sx2)) AS det,
             (sy * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1y * sx22 - sx12 * sx2y)
              + sx2 * (sx1y * sx12 - sx11 * sx2y)) AS det0,
             (n * (sx1y * sx22 - sx12 * sx2y)
              - sy * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx2y - sx1y * sx2)) AS det1,
             (n * (sx11 * sx2y - sx1y * sx12)
              - sx1 * (sx1 * sx2y - sx1y * sx2)
              + sy * (sx1 * sx12 - sx11 * sx2)) AS det2
      FROM m)
    SELECT CAST(n AS BIGINT) AS n,
           (det0 / det) AS b0,
           (det1 / det) AS b1,
           (det2 / det) AS b2,
           ((syy - ((det0 / det) * sy + (det1 / det) * sx1y
                    + (det2 / det) * sx2y))
            / (syy - (sy * sy) / n)) AS frac_unexplained
    FROM solved
"""


@register("stat_linreg_normal_eq", STAT_LINREG_SQL)
def stat_linreg_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Closed-form multiple linear regression (cents revenue on
    quantity + line number, with intercept) by the NORMAL EQUATIONS:
    one distributed pass accumulates the O(d²) moment matrix as exact
    decimal integer sums, and a 3×3 Cramer solve — plain expressions
    over the 1-row aggregate — yields coefficients plus the
    unexplained-variance fraction (1 − R²).  This is the one-pass,
    no-iteration regression shape a feature pipeline runs at 100 TB:
    map-side-combined partials, a d(d+1)/2-wide reduce, zero joins,
    zero driver math — and the result is BIT-reproducible across
    engines and partitionings because the sums are exact decimals and
    the solve is one fixed IEEE expression tree (same SQL text runs on
    both engines).

    Scale: the moment pass is a single hash-free global aggregate
    (partial → final); d grows the reduce width quadratically but
    never adds a pass — at d where d² outgrows a row, switch to the
    mapInPandas moment partials `sim_pca_project` uses
    (similarity.py:1515), the same arithmetic at matrix shape."""
    register_views(spark, sf_dir)
    return spark.sql(STAT_LINREG_SQL)


# ---------------------------------------------------------------------------
# dq_embeddings_constraints — declarative vector-quality suite
# ---------------------------------------------------------------------------

# The norm legs are bit-identical across engines by the identical-tree
# argument: both fold the squared float32 elements (cast to double,
# then squared — each op correctly rounded) LEFT-TO-RIGHT in array
# order (Spark F.aggregate with 0.0 init; DuckDB list_reduce whose
# first-element init equals 0.0+x1² exactly), then one sqrt.  All
# other outputs are exact counts.  Empty (length-0, non-NULL) lists
# are guarded with CASE → 0.0 (round-12 ADVICE): DuckDB's list_reduce
# RAISES on an empty list where Spark's F.aggregate returns the 0.0
# init (whose sqrt is 0.0), so both engines now degrade identically.
DQ_EMBEDDINGS_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(count_if(embedding IS NULL) AS BIGINT) AS n_null_vec,
           CAST(count_if(embedding IS NOT NULL AND len(embedding) <> 64)
                AS BIGINT) AS n_bad_dim,
           CAST(count_if(embedding IS NOT NULL AND len(list_filter(
                embedding, x -> isnan(x) OR isinf(x))) > 0) AS BIGINT)
               AS n_nonfinite,
           CAST(count_if(embedding IS NOT NULL AND len(list_filter(
                embedding, x -> x <> 0)) = 0) AS BIGINT) AS n_zero_vec,
           CAST(COUNT(*) - COUNT(DISTINCT vec_id) AS BIGINT) AS n_dup_ids,
           CAST(count_if(label IS NULL OR label < 0 OR label > 9)
                AS BIGINT) AS n_bad_label,
           MIN(CASE WHEN len(embedding) = 0 THEN 0.0
               ELSE sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b)) END) AS min_norm,
           MAX(CASE WHEN len(embedding) = 0 THEN 0.0
               ELSE sqrt(list_reduce(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                    (a, b) -> a + b)) END) AS max_norm
    FROM embeddings
"""


@register("dq_embeddings_constraints", DQ_EMBEDDINGS_ORACLE)
def dq_embeddings_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Deequ-style constraint suite for the VECTOR table — the
    ingest gate an embedding corpus needs before any ANN index build:
    null/dimension/non-finite/zero-vector checks, id uniqueness,
    label domain, and the L2-norm envelope (a drifted norm range is
    the classic sign of a mixed-encoder corpus), all in ONE
    aggregation pass.  Composes with the du-family quality gate
    posture: `streaming/refresh.py`'s swap gate consumes exactly this
    report shape.

    Scale: one scan, one partial→final aggregate, no shuffle keyed by
    data; the per-row norm fold is a codegen higher-order function
    over the fixed 64-wide array — no Python, no explode (the
    array never becomes 64 rows)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.col("embedding")
    sq_sum = F.aggregate(
        vec, F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.sqrt(sq_sum)
    nonfinite = F.exists(
        vec, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf")))
    )
    return emb.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(vec.isNull()).alias("n_null_vec"),
        F.count_if(vec.isNotNull() & (F.size(vec) != 64)).alias("n_bad_dim"),
        F.count_if(vec.isNotNull() & nonfinite).alias("n_nonfinite"),
        F.count_if(
            vec.isNotNull() & (F.size(F.filter(vec, lambda x: x != 0)) == 0)
        ).alias("n_zero_vec"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("vec_id")))
        .alias("n_dup_ids"),
        F.count_if(
            F.col("label").isNull()
            | (F.col("label") < 0) | (F.col("label") > 9)
        ).alias("n_bad_label"),
        F.min(norm).alias("min_norm"),
        F.max(norm).alias("max_norm"),
    )
