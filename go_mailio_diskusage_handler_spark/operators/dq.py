"""Declarative data-quality constraint suite (Deequ-style).

The reference validates its input implicitly — a malformed manifest or
parquet file simply kills the refresh (``handler.go:176,186,192``
``log.Fatalf``).  A 100 TB ingest needs the opposite posture: run a
DECLARED set of constraints as ordinary aggregates over the data,
emit one (rule, metric, status) row per constraint, and let the
caller gate the snapshot swap on the suite passing.  This mirrors the
public Amazon Deequ design (Schelter et al., VLDB 2018: "Automating
Large-Scale Data Quality Verification"): constraints compile to ONE
aggregation pass per table, not one scan per rule.

Distributed shape at 100 TB:

* Rules 1-4 (completeness, uniqueness, domain, bounds) are aggregate
  expressions over a single scan of the fact table — partial
  aggregation map-side, one 1-row result.  ``countDistinct`` is the
  only one that shuffles (distinct pre-aggregates per partition on
  the key before the exchange).
* Rule 5 (referential integrity) is a LEFT ANTI join fact→dimension
  on the foreign key.  At 100 TB the dimension side (customer keys)
  is still ~GB-scale, so the anti join broadcasts; if the dimension
  outgrows the broadcast threshold, the same rule degrades to the
  bloom-probe pattern (see ``queries/q_sql.py:sql_bloom_probe_revenue``)
  — probe a bloom of dimension keys first, anti-join only the
  survivors.
* The per-rule rows are assembled from the two 1-row aggregate
  frames with ``F.inline`` over a literal struct array — driver never
  collects anything.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Accepted order-status domain (TPC-H dbgen emits exactly these).
ORDER_STATUS_DOMAIN = ("O", "F", "P")


def _nz_sum(flag) -> "F.Column":
    """SUM of a violation-count expression, COALESCEd to 0 so an EMPTY
    table yields well-defined counters (SUM over zero rows is NULL,
    which would turn every PASS/FAIL status into FAIL-with-NULL-metric)
    — the shared empty-table hardening of both constraint suites; the
    DuckDB oracle mirrors apply the same COALESCE."""
    return F.coalesce(F.sum(flag), F.lit(0))


def constraint_suite(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Evaluate the declared constraint suite over ``orders`` (with
    ``customer`` as the referential-integrity dimension).

    Returns one row per rule: ``rule`` (string), ``metric`` (double —
    a ratio for completeness/uniqueness, a violation count for the
    rest), ``status`` ('PASS' | 'FAIL').
    """
    one_pass = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _nz_sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).alias(
            "null_custkey"
        ),
        F.countDistinct("o_orderkey").alias("distinct_orderkey"),
        # NULL IN (...) is NULL -> falls through to the violation arm,
        # matching SQL CASE WHEN ... IN ... THEN 0 ELSE 1 END.
        _nz_sum(
            F.when(F.col("o_orderstatus").isin(*ORDER_STATUS_DOMAIN), 0).otherwise(1)
        ).alias("bad_status"),
        _nz_sum(F.when(F.col("o_totalprice") < 0, 1).otherwise(0)).alias(
            "neg_price"
        ),
    )
    # NULL foreign keys are owned by the completeness rule, not the
    # referential rule (a NULL never matches the anti join and would
    # otherwise double-report as an orphan).
    orphans = (
        orders.select("o_custkey")
        .where(F.col("o_custkey").isNotNull())
        .join(
            F.broadcast(customer.select("c_custkey")),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("orphan_rows"))
    )
    facts = one_pass.crossJoin(F.broadcast(orphans))  # 1 row x 1 row

    def rule(name: str, metric, passed):
        return F.struct(
            F.lit(name).alias("rule"),
            F.round(metric.cast("double"), 6).alias("metric"),
            F.when(passed, F.lit("PASS")).otherwise(F.lit("FAIL")).alias("status"),
        )

    # Floor the ratio denominator so the empty table divides by 1 (not
    # 0 -> NULL metric); with zeroed counters its rules all read PASS
    # with ratio metrics of 0.0.
    n = F.greatest(F.col("n_rows"), F.lit(1))
    return facts.select(
        F.inline(
            F.array(
                rule(
                    "completeness:o_custkey",
                    (n - F.col("null_custkey")) / n,
                    F.col("null_custkey") == 0,
                ),
                rule(
                    "uniqueness:o_orderkey",
                    F.col("distinct_orderkey") / n,
                    F.col("distinct_orderkey") == F.col("n_rows"),
                ),
                rule(
                    "domain:o_orderstatus",
                    F.col("bad_status"),
                    F.col("bad_status") == 0,
                ),
                rule(
                    "non_negative:o_totalprice",
                    F.col("neg_price"),
                    F.col("neg_price") == 0,
                ),
                rule(
                    "referential:o_custkey->c_custkey",
                    F.col("orphan_rows"),
                    F.col("orphan_rows") == 0,
                ),
            )
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnosis
# ---------------------------------------------------------------------------

#: Rows one task should own after salting — the denominator of the
#: recommended salt factor (local fixture value; a real cluster sizes
#: this from executor memory / row width).
TARGET_ROWS_PER_TASK = 100_000


def join_key_skew(df: DataFrame, table: str, key: str) -> DataFrame:
    """Per-key cardinality profile for one prospective join key:
    row/key counts, the heaviest key's share, and a recommended salt
    factor (``ceil(max_key_rows / TARGET_ROWS_PER_TASK)``, min 1).

    Two-level aggregation — per-key counts partial-aggregate map-side,
    then a key-count-table-sized summary — so the profile costs one
    shuffle regardless of fact size.  Run this BEFORE a big join: a
    skew_ratio in the hundreds means the naive shuffle join stalls on
    one task and the join should go through the salting path
    (``salted_event_totals``) or AQE skew splitting.
    """
    per_key = df.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_key.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_key_rows"),
        F.round(F.sum("c") / F.count(F.lit(1)), 4).alias("avg_key_rows"),
        F.round(F.max("c") * F.count(F.lit(1)) / F.sum("c"), 4).alias(
            "skew_ratio"
        ),
        F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.max("c") / F.lit(TARGET_ROWS_PER_TASK)),
        ).alias("salt_factor"),
    ).select(
        F.lit(table).alias("table_name"),
        F.lit(key).alias("key_name"),
        "n_rows",
        "n_keys",
        "max_key_rows",
        "avg_key_rows",
        "skew_ratio",
        "salt_factor",
    )


def join_key_skew_report(
    orders: DataFrame, lineitem: DataFrame, events: DataFrame
) -> DataFrame:
    """One skew profile row per declared (table, join key) pair — the
    pre-flight report for the engine's recurring join keys."""
    return (
        join_key_skew(orders, "orders", "o_custkey")
        .unionByName(join_key_skew(lineitem, "lineitem", "l_orderkey"))
        .unionByName(join_key_skew(events, "events", "user_id"))
    )


# ---------------------------------------------------------------------------
# AGMS sketch join-cardinality estimation
# ---------------------------------------------------------------------------

#: AGMS sketch geometry: bucket count per estimator and number of
#: independent (hash, sign) estimator pairs the median is taken over.
AGMS_BUCKETS = 256
AGMS_ESTIMATORS = 5


def _agms_sketch(df: DataFrame, key: str, side: str) -> DataFrame:
    """Per-(estimator, bucket) signed counts for one join side.

    The AGMS/tug-of-war construction (Alon-Gianella-Matias-Szegedy,
    public STOC'96 / PODS'99 line of work): bucket ``h_i(k)`` and sign
    ``s_i(k) in {-1,+1}`` both derive from salted md5 — the repo's
    portable deterministic hash — so the sketch is reproducible on any
    engine.  One pass over the rows, aggregate output bounded at
    ESTIMATORS x BUCKETS rows regardless of fact size.
    """
    from ..sources.tables import widen_for_compute

    i = F.explode(F.sequence(F.lit(0), F.lit(AGMS_ESTIMATORS - 1))).alias("i")
    # ESTIMATORS x rows salted-md5 evaluations sit below the first
    # shuffle — widen a single-split local scan so they parallelize
    # (no-op at scale).
    rows = widen_for_compute(
        df.select(F.col(key).cast("string").alias("k"))
    ).select("k", i)
    salted = F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("k")))
    bucket = (
        F.conv(F.substring(salted, 1, 8), 16, 10).cast("long") % AGMS_BUCKETS
    )
    sign = 1 - 2 * (F.conv(F.substring(salted, 9, 1), 16, 10).cast("long") % 2)
    return (
        rows.select("i", bucket.alias("bucket"), sign.alias("s"))
        .groupBy("i", "bucket")
        .agg(F.sum("s").alias(f"s_{side}"))
    )


def join_cardinality_estimate(
    left: DataFrame, left_key: str, right: DataFrame, right_key: str
) -> DataFrame:
    """Estimate |left ⋈ right| on an equi-key WITHOUT running the join,
    and report it against the exact answer.

    The estimator is the classic sketch inner product: for each of
    AGMS_ESTIMATORS independent (hash, sign) pairs,
    ``est_i = sum_b S_left[i][b] * S_right[i][b]`` is an unbiased
    estimate of ``sum_k c_left(k) * c_right(k)`` (the exact equi-join
    cardinality); the median over estimators tames the variance.  This
    is what a cost-based planner consults before choosing a join
    strategy at 100 TB — the sketches are one scan per side with
    ESTIMATORS x BUCKETS-row state, and the exact check here is the
    oracle-sized validation tier (per-key count join), not part of the
    production estimate path.

    Output: one row — exact join rows, median sketch estimate, and
    relative error (rounded).
    """
    ls = _agms_sketch(left, left_key, "l")
    rs = _agms_sketch(right, right_key, "r")
    per_est = (
        ls.join(rs, ["i", "bucket"])
        .groupBy("i")
        .agg(F.sum(F.col("s_l") * F.col("s_r")).alias("est"))
    )
    est = per_est.agg(
        F.percentile("est", F.lit(0.5)).cast("long").alias("est_rows")
    )
    lc = left.groupBy(F.col(left_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cl")
    )
    rc = right.groupBy(F.col(right_key).alias("k")).agg(
        F.count(F.lit(1)).alias("cr")
    )
    actual = lc.join(rc, "k").agg(
        F.coalesce(F.sum(F.col("cl") * F.col("cr")), F.lit(0)).alias(
            "actual_rows"
        )
    )
    return actual.crossJoin(F.broadcast(est)).select(
        "actual_rows",
        "est_rows",
        F.round(
            F.abs(F.col("est_rows") - F.col("actual_rows"))
            / F.greatest(F.col("actual_rows"), F.lit(1)),
            4,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# PSI distribution-drift detection
# ---------------------------------------------------------------------------

#: PSI decision thresholds (industry-standard banding) and the share
#: floor that keeps ln(p/q) finite for empty bins.
PSI_DRIFT_THRESHOLD = 0.1
PSI_SHARE_FLOOR = 1e-6
PSI_BINS = 10


def value_drift_psi(events: DataFrame) -> DataFrame:
    """Population Stability Index of ``value`` per event type between
    the first and second half of the observed time range.

    The standard production drift monitor: bin the REFERENCE window
    into deciles, compute each bin's share in reference vs current,
    and sum ``(p - q) * ln(p / q)`` (shares floored at
    PSI_SHARE_FLOOR so empty bins stay finite).  PSI < 0.1 is stable,
    0.1-0.25 moderate drift, > 0.25 action.

    Distributed shape: the split point is a 1-row min/max aggregate
    cross-joined back (broadcast); the 9 decile boundaries per type
    come from ONE percentile aggregate over the reference rows
    (types x 9 doubles — broadcast back as a map-side join); binning
    is a per-row comparison fold; the final tally is one hash
    aggregate on (type, bin) with map-side combine.  Nothing scales
    with more than the fact scan.
    """
    span = events.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    # NULL values are not distribution observations: left in, a type
    # whose REFERENCE rows were all NULL would get NULL bounds yet
    # nonzero n_ref in the reserved bin, masking real drift as p == q.
    tagged = events.where(F.col("value").isNotNull()).crossJoin(
        F.broadcast(span)
    ).select(
        "event_type",
        "value",
        (
            F.unix_timestamp("ts")
            < (F.col("t0") + (F.col("t1") - F.col("t0")) / 2)
        ).alias("is_ref"),
    )
    bounds = reference_decile_bounds(tagged.where("is_ref"))
    binned = assign_psi_bins(tagged, bounds)
    shares = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("n_cur"),
    )
    return psi_from_bin_counts(shares)


def reference_decile_bounds(ref: DataFrame) -> DataFrame:
    """Per-type decile boundaries of ``value`` over the REFERENCE rows
    — the frozen calibration table both the batch monitor and the
    streaming twin bin against (types x 9 doubles, broadcastable)."""
    probs = [i / PSI_BINS for i in range(1, PSI_BINS)]
    return ref.groupBy("event_type").agg(
        *[
            F.percentile("value", F.lit(p)).alias(f"b{i}")
            for i, p in enumerate(probs, start=1)
        ]
    )


def assign_psi_bins(df: DataFrame, bounds: DataFrame) -> DataFrame:
    """LEFT-join the broadcast bounds and fold ``value`` into its
    decile bin (1..PSI_BINS) — a pure per-row comparison chain.

    A type with NO reference rows has no bounds row; its events land
    in the reserved bin 0 instead of being dropped (an inner join
    would make the monitor BLIND to brand-new event types — the
    strongest possible drift).  Bin 0 then carries n_ref = 0, so the
    floored PSI fold reports such a type as maximally drifted.
    """
    return df.join(F.broadcast(bounds), "event_type", "left").select(
        *[c for c in df.columns if c != "value"],
        F.when(F.col("b1").isNull(), F.lit(0)).otherwise(
            sum(
                [F.lit(1)]
                + [
                    F.when(F.col("value") > F.col(f"b{i}"), 1).otherwise(0)
                    for i in range(1, PSI_BINS)
                ]
            )
        ).alias("bin"),
    )


def psi_from_bin_counts(shares: DataFrame) -> DataFrame:
    """PSI fold over a (event_type, bin, n_ref, n_cur) counts table —
    the serving-layer tail shared by the batch monitor and the
    streaming sink twin.  The input is types x bins rows, so the
    unbounded-over-type window here is dimension-sized, never
    fact-sized."""
    # denominators floored at 1: a type with zero rows on one side
    # (e.g. brand-new types in bin 0) must floor to PSI_SHARE_FLOOR,
    # not divide by zero
    p = F.greatest(
        F.col("n_ref")
        / F.greatest(F.sum("n_ref").over(_type_window()), F.lit(1)),
        F.lit(PSI_SHARE_FLOOR),
    )
    q = F.greatest(
        F.col("n_cur")
        / F.greatest(F.sum("n_cur").over(_type_window()), F.lit(1)),
        F.lit(PSI_SHARE_FLOOR),
    )
    per_bin = shares.select(
        "event_type",
        "n_ref",
        "n_cur",
        ((p - q) * F.log(p / q)).alias("psi_term"),
    )
    return per_bin.groupBy("event_type").agg(
        F.sum("n_ref").alias("n_ref"),
        F.sum("n_cur").alias("n_cur"),
        F.round(F.sum("psi_term"), 4).alias("psi"),
        (F.sum("psi_term") > PSI_DRIFT_THRESHOLD).alias("drifted"),
    )


def _type_window():
    from pyspark.sql import Window

    return Window.partitionBy("event_type")


# ---------------------------------------------------------------------------
# Inventory ingest constraint suite (the swap gate's rule set as a query)
# ---------------------------------------------------------------------------

#: Malformed-key fraction above which an inventory refresh is refused
#: (mirrors streaming.refresh's quality_gate default posture).
MAX_MALFORMED_FRAC = 0.5


def inventory_constraint_suite(inventory: DataFrame) -> DataFrame:
    """The refresher's swap-gate rules over an inventory(key, size)
    table, as an inspectable (rule, metric, status) report — the same
    thresholds ``streaming.refresh.DiskUsageHandler(quality_gate=...)``
    enforces in-flight, evaluated here as one aggregation pass so the
    decision is reproducible offline (and oracle-checkable).

    Rules: key completeness (NULL keys), size completeness, size
    non-negativity, and the malformed-key fraction (reference O7
    guard, handler.go:235-238) against ``MAX_MALFORMED_FRAC``.
    """
    from .core import well_formed_key

    # NULL handling is explicit so Spark and the DuckDB mirror agree:
    # a NULL key makes well_formed_key() NULL (contains(NULL, '/') is
    # NULL), which a bare SUM would silently DROP while the oracle's
    # CASE ... ELSE 1 counts it as malformed — coalesce the flag to 1,
    # as core.disk_usage_observed does for the in-flight gate.
    one_pass = inventory.agg(
        F.count(F.lit(1)).alias("n_rows"),
        _nz_sum(F.col("key").isNull().cast("long")).alias("null_keys"),
        _nz_sum(F.col("size").isNull().cast("long")).alias("null_sizes"),
        _nz_sum((F.col("size") < 0).cast("long")).alias("neg_sizes"),
        _nz_sum(
            F.coalesce((~well_formed_key()).cast("long"), F.lit(1))
        ).alias("malformed_keys"),
    )

    def rule(name: str, metric, passed):
        return F.struct(
            F.lit(name).alias("rule"),
            F.round(metric.cast("double"), 6).alias("metric"),
            F.when(passed, F.lit("PASS")).otherwise(F.lit("FAIL")).alias("status"),
        )

    n = F.greatest(F.col("n_rows"), F.lit(1))
    malformed_frac = F.col("malformed_keys") / n
    return one_pass.select(
        F.inline(
            F.array(
                rule("completeness:key", F.col("null_keys"), F.col("null_keys") == 0),
                rule(
                    "completeness:size", F.col("null_sizes"), F.col("null_sizes") == 0
                ),
                rule("non_negative:size", F.col("neg_sizes"), F.col("neg_sizes") == 0),
                rule(
                    "malformed_frac:key",
                    malformed_frac,
                    malformed_frac <= MAX_MALFORMED_FRAC,
                ),
            )
        )
    )


# ---------------------------------------------------------------------------
# AQP: deterministic-sample estimation with error report
# ---------------------------------------------------------------------------

#: 1-in-AQP_RATE hash sample (BlinkDB-style uniform sample, but keyed
#: on a deterministic md5 bucket so both engines draw the SAME rows).
AQP_RATE = 16


def sampled_group_estimate(orders: DataFrame) -> DataFrame:
    """Approximate-query-processing estimator: per order priority, the
    revenue SUM/AVG estimated from a deterministic 1/AQP_RATE hash
    sample, reported against the exact answer.

    The public BlinkDB/AQP idea — answer aggregates from a small
    stored sample with known scale-up — made reproducible by sampling
    on an md5 bucket of the row key instead of an RNG: the sample is
    a pure row predicate, so it pushes into the scan, re-runs
    identically on any engine, and at 100 TB the sample TABLE would be
    materialized once and reused by every exploratory query.  One
    pass computes both tiers (conditional aggregates), so the report
    itself costs one scan.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % AQP_RATE
    )
    in_sample = bucket == 0
    est_sum = F.sum(F.when(in_sample, F.col("o_totalprice"))) * AQP_RATE
    exact_sum = F.sum("o_totalprice")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(in_sample.cast("long")).alias("n_sampled"),
        F.round(exact_sum, 2).alias("exact_sum"),
        F.round(est_sum, 2).alias("est_sum"),
        F.round(F.abs(est_sum - exact_sum) / exact_sum, 4).alias("rel_err"),
    )
