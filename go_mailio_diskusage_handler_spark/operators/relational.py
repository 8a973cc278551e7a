"""[EXT] Relational operator breadth.

The reference has no joins, windows, sorts, set ops, or subqueries
(verified in SURVEY §2.1 — its only operators are scan/project/filter/
agg/lookup).  These are the driver-mandated extensions, each written
the way you'd want the plan to look on a 1000-executor cluster:

* Dimension joins broadcast the small side (region/nation/customer are
  KBs–MBs even at 100 TB fact scale) so the fact table never shuffles
  for the join — only the final aggregation shuffles.
* Top-k is `orderBy().limit(k)`, which Spark executes as
  ``TakeOrderedAndProject``: per-partition heaps of k rows, no global
  sort, no full-result shuffle.
* Windows partition by a key before ordering — a window over an
  unpartitioned ORDER BY would serialize 100 TB through one task, so
  every window here has a PARTITION BY.
* Set ops are expressed as EXCEPT/anti-join over aggregated (already
  small) inputs where possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


TOP_ADDRESSES_K = 10


def top_k_addresses(disk_usage_df: DataFrame) -> DataFrame:
    """Top-``TOP_ADDRESSES_K`` users by total size — TakeOrderedAndProject,
    not a global sort.  Deterministic tie-break on address."""
    return disk_usage_df.orderBy(
        F.desc("size_bytes"), F.asc("address")
    ).limit(TOP_ADDRESSES_K)


def lapsed_customers(orders: DataFrame, split_date: str) -> DataFrame:
    """Set difference: customers ordering BEFORE split_date but not
    after — day-over-day inventory-diff pattern (SURVEY §2.1 set ops).
    EXCEPT over two already-aggregated (distinct) sides keeps the
    shuffled data small.
    """
    before = orders.filter(F.col("o_orderdate") < split_date).select("o_custkey")
    after = orders.filter(F.col("o_orderdate") >= split_date).select("o_custkey")
    return before.distinct().exceptAll(after.distinct()).select(
        F.col("o_custkey").alias("lapsed_custkey")
    )


N_SALTS = 16


def salted_event_totals(events: DataFrame) -> DataFrame:
    """Two-stage salted aggregation for HEAVILY skewed group keys
    (SURVEY §2.1 skew mitigation).

    ``event_type`` has a handful of distinct values — at 100 TB a
    direct groupBy funnels billions of rows into ~5 reducer tasks.
    Stage 1 groups by (key, salt) so every reducer sees at most
    1/N_SALTS of the hottest key; stage 2 combines the ``N_SALTS``
    sub-aggregates per key (trivial).  The salt never leaves the job,
    so results are identical to the direct groupBy (oracle = plain
    GROUP BY).  Note partial map-side aggregation already handles
    *moderate* skew; salting is the explicit fix when a single key
    exceeds what one final-agg task should hold.
    """
    salt = F.pmod(F.hash("event_id"), F.lit(N_SALTS)).alias("salt")
    stage1 = (
        events.select("event_type", salt, "value")
        .groupBy("event_type", "salt")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("value").alias("val"),
        )
    )
    return (
        stage1.groupBy("event_type")
        .agg(
            F.sum("cnt").alias("event_count"),
            F.round(F.sum("val"), 2).alias("total_value"),
        )
    )


def pivot_revenue(orders: DataFrame) -> DataFrame:
    """PIVOT: order status → columns, priority → rows, one aggregation
    pass.  Pivot values are passed explicitly — without them Spark runs
    an extra job just to collect the distinct statuses before planning,
    which at 100 TB is a full scan wasted."""
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


def order_value_percentiles(orders: DataFrame) -> DataFrame:
    """Exact percentiles per group (linear interpolation — the same
    definition DuckDB's quantile_cont uses).  For 100 TB pipelines the
    scale path is ``approx_percentile`` (KLL-style sketch, one pass,
    fixed memory); exact is kept where the group cardinality is modest
    and cross-engine hash parity is required."""
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 2).alias("p95"),
        F.round(F.avg("o_totalprice"), 2).alias("mean_price"),
    )


def cube_lineitem_flags(lineitem: DataFrame) -> DataFrame:
    """CUBE (returnflag, linestatus) + grouping_id: all 4 grouping sets
    in one expand + single aggregation shuffle."""
    return lineitem.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("row_count"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def order_gaps(orders: DataFrame) -> DataFrame:
    """LAG/LEAD window: per customer, days since the previous order and
    days until the next one.

    PARTITION BY o_custkey bounds each window task by one customer's
    history (no global sort at 100 TB); o_orderkey tie-break makes the
    frame deterministic.  Window edges (a customer's first/last order)
    emit a -1 sentinel rather than NULL: a nullable BIGINT round-trips
    as float NaN through Arrow/pandas, which breaks order-insensitive
    row hashing between engines.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.coalesce(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)),
            F.lit(-1),
        )
        .cast("long")
        .alias("days_since_prev"),
        F.coalesce(
            F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate")),
            F.lit(-1),
        )
        .cast("long")
        .alias("days_until_next"),
    )


#: Price bands for the range join — keep in sync with
#: registry.RANGE_JOIN_BANDS_SQL (the DuckDB oracle states the same
#: bands as a VALUES list).
PRICE_BANDS: list[tuple[str, float, float]] = [
    ("low", 0.0, 100_000.0),
    ("mid", 100_000.0, 250_000.0),
    ("high", 250_000.0, 600_000.0),
]

#: Grid step for range-join bucketization.  Every band boundary must be
#: a multiple of this so a grid cell never straddles a band edge.
_RANGE_GRID = 50_000.0


def price_band_revenue(orders: DataFrame) -> DataFrame:
    """Range join (``lo <= o_totalprice < hi``) via grid bucketization.

    The naive plan for an interval predicate is a nested-loop join —
    O(fact × bands), and with a big build side it's the classic range-
    join blowup.  The scale pattern: overlay a fixed grid, explode each
    band into the grid cells it covers (driver-side, tiny), equi-join
    fact.cell = dim.cell (hash join, broadcast here), then apply the
    exact interval as a post-filter.  The fact table streams through
    one BroadcastHashJoin — no shuffle, no nested loop — and the same
    construction handles large-large range joins by letting the
    equi-join shuffle on ``cell``.

    Revenue sums cast inputs to DECIMAL(12,2) so the aggregate is exact
    and engine-independent (see the cross-engine float rule above the
    ``register_texts`` table in ``queries/q_sql.py``).

    The exploded band×cell dim is built as a JVM literal (explode of a
    struct-array over ``spark.range(1)``), not ``createDataFrame`` —
    the Python local-relation path serializes through an RDD job and
    costs ~1.5 s of cold overhead for 12 rows; the literal stays in
    whole-stage codegen.
    """
    import math

    spark = orders.sparkSession
    cells = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.lit(lo).alias("lo"),
                F.lit(hi).alias("hi"),
                F.lit(cell).cast("bigint").alias("cell"),
            )
            for band, lo, hi in PRICE_BANDS
            for cell in range(int(lo // _RANGE_GRID), math.ceil(hi / _RANGE_GRID))
        ]
    )
    dim = spark.range(1).select(F.explode(cells).alias("r")).select("r.*")
    fact = orders.withColumn(
        "cell", F.floor(F.col("o_totalprice") / F.lit(_RANGE_GRID))
    )
    return (
        fact.join(F.broadcast(dim), "cell")
        .filter(
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi"))
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 2)
            .cast("double")
            .alias("revenue"),
        )
    )


def unpivot_lineitem_measures(lineitem: DataFrame) -> DataFrame:
    """UNPIVOT/melt: the four lineitem measures into (measure, val)
    rows, then per-measure stats.

    ``unpivot`` is a zero-shuffle Expand (each input row emits 4
    narrow rows in place); the only exchange is the 4-group final
    aggregation.  Sums go through DECIMAL(14,2) so the cross-engine
    hash is exact (all four measures carry ≤2 decimals).
    """
    melted = lineitem.unpivot(
        ids=[],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return melted.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("val").cast("decimal(14,2)")), 2)
        .cast("double")
        .alias("sum_val"),
        F.round(F.min("val"), 4).alias("min_val"),
        F.round(F.max("val"), 4).alias("max_val"),
    )


def moving_monthly_spend(orders: DataFrame) -> DataFrame:
    """RANGE-frame window: each order with the customer's trailing
    30-day spend (order day inclusive).

    The frame is ``RANGE BETWEEN 29 PRECEDING AND CURRENT ROW`` over a
    day number — a value-based frame, so same-day orders all see the
    identical window regardless of intra-day tie order, making the
    result deterministic without a tie-break column.  PARTITION BY
    customer keeps tasks bounded at scale; sums are exact decimals.
    """
    day = F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-29, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(12,2)")).over(w), 2)
        .cast("double")
        .alias("trailing_30d_spend"),
    )


HLL_RSD = 0.01


def approx_distinct_customers(orders: DataFrame) -> DataFrame:
    """HyperLogLog++ sketch — the 100 TB path for distinct counts:
    one pass, fixed memory, no distinct-expand shuffle.  The sketch
    estimate itself is engine-specific, so the query emits a
    *deterministic invariant* the DuckDB oracle can hash-match: the
    exact distinct count plus a boolean asserting the HLL estimate
    lands within 5x the configured relative standard deviation (a
    ~5-sigma bound; HLL++ at HLL_RSD=0.01 is far tighter in practice).
    Both the exact count and the sketch are computed in the same
    single-pass aggregate (two partial buffers, one shuffle)."""
    agg = orders.agg(
        F.countDistinct("o_custkey").alias("exact_distinct"),
        F.approx_count_distinct("o_custkey", HLL_RSD).alias("approx"),
    )
    return agg.select(
        "exact_distinct",
        (
            F.abs(F.col("approx") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            <= F.lit(5 * HLL_RSD)
        ).alias("within_tol"),
    )


TOP_EVENT_TYPES = 5


def approx_top_event_types(events: DataFrame) -> DataFrame:
    """approx_top_k heavy-hitter sketch — the 100 TB path for "what
    are the hottest keys": one pass, fixed memory (maxItemsTracked
    counters), mergeable partials, vs the exact answer's full
    groupBy + global sort.  Completes the sketch tier next to the HLL
    distinct-count and GK quantile queries.

    Same oracle pattern as those two: the engine-specific sketch
    output is folded into a *deterministic invariant* — the exact
    per-key counts of the exact top-k (count-desc, key tie-break)
    plus a boolean asserting the sketch reported that key with the
    exact count (with maxItemsTracked ≥ the distinct-key count the
    ApproxTopK sketch degenerates to exact counting, so the boolean
    is provably TRUE at fixture scale).

    The sketch is asked for 2k items, not k: if counts TIE at the
    rank-k boundary, the sketch's tie order need not match the exact
    side's (count desc, key asc), and a boundary key the exact side
    kept could fall outside the sketch's k — a NULL after the join
    where the invariant expects a verdict.  With a 2k margin every
    boundary-tied key still surfaces unless more than k keys share
    the boundary count exactly; the join then always finds the key
    and compares its count."""
    k = TOP_EVENT_TYPES
    sketch = events.agg(
        F.expr(f"approx_top_k(event_type, {2 * k}, 100000)").alias("tk")
    ).select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("event_type"),
        F.col("e.count").alias("approx_count"),
    )
    exact = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = Window.orderBy(F.desc("n_events"), F.asc("event_type"))
    exact_top = (
        exact.select("*", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )
    return exact_top.join(F.broadcast(sketch), "event_type", "left").select(
        "event_type",
        "n_events",
        (F.col("approx_count") == F.col("n_events")).alias("sketch_exact"),
    )


GK_ACCURACY = 10_000


def approx_order_percentiles(orders: DataFrame) -> DataFrame:
    """approx_percentile sketch (Greenwald-Khanna) — the 100 TB path
    for quantiles: single pass, bounded memory, mergeable partials,
    vs the exact percentile's full sort.  Like the HLL query, emits a
    deterministic invariant: the exact interpolated percentiles
    (cross-engine reproducible, rounded) plus booleans asserting the
    GK estimates sit within 1% relative error of them."""
    p = orders.agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], GK_ACCURACY).alias("a"),
        F.expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").alias("e"),
    )

    def ok(i: int):
        return (
            F.abs(F.col("a")[i] - F.col("e")[i]) / F.col("e")[i] <= F.lit(0.01)
        )

    return p.select(
        F.round(F.col("e")[0], 4).alias("p50_exact"),
        F.round(F.col("e")[1], 4).alias("p90_exact"),
        F.round(F.col("e")[2], 4).alias("p99_exact"),
        ok(0).alias("p50_ok"),
        ok(1).alias("p90_ok"),
        ok(2).alias("p99_ok"),
    )


TREND_MIN_ORDERS = 5


def customer_spend_trend(orders: DataFrame) -> DataFrame:
    """Per-customer linear spend trend (least-squares slope of
    o_totalprice over order day) — regression via SUFFICIENT
    STATISTICS: one aggregation collecting (n, Σx, Σy, Σxy, Σx²) per
    customer, slope assembled from the closed form afterwards.  The
    distributed pattern matters at 100 TB: any per-group model with
    additive sufficient statistics costs exactly one partial-agg
    shuffle — no per-group iteration, no data movement beyond the
    5-number summary.

    Engine-portable arithmetic: x is an exact day int, y an exact
    2-decimal DECIMAL, so every Σ is exact (no summation-order ulp);
    the single double division happens on identical exact operands in
    both engines.  Customers whose orders all land on one day
    (denominator 0) are excluded rather than emitting ±Inf.
    """
    x = F.datediff(F.col("o_orderdate"), F.to_date(F.lit("1992-01-01")))
    y = F.col("o_totalprice").cast("decimal(12,2)")
    stats = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x.cast("decimal(12,0)") * y).alias("sxy"),
        F.sum(x.cast("long") * x.cast("long")).alias("sxx"),
    )
    num = (F.col("n_orders") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (
        F.col("n_orders") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    return (
        stats.filter((F.col("n_orders") >= TREND_MIN_ORDERS) & (den != 0))
        .select(
            "o_custkey",
            "n_orders",
            F.round(num / den, 6).alias("spend_slope"),
        )
    )


# ---------------------------------------------------------------------------
# [EXT] Z-order (Morton) multi-dimensional clustering keys
# ---------------------------------------------------------------------------
ZORDER_BITS = 8


def _morton_interleave(bx, by):
    """Morton code with bit i of x at position 2i, bit i of y at
    2i+1 — delegates to the compaction sink's interleave (which puts
    its FIRST arg on odd positions, so the args swap)."""
    from go_mailio_diskusage_handler_spark.sources.compaction import zorder_key

    return zorder_key(by, bx, ZORDER_BITS)


def zorder_keys(orders: DataFrame) -> DataFrame:
    """Z-order clustering key over (o_custkey, o_totalprice) — the
    layout primitive behind multi-dimensional data skipping (Delta
    OPTIMIZE ZORDER BY, Hudi/Iceberg z-ordering): sort-by-z groups
    rows that are close in BOTH dimensions into the same file, so
    parquet row-group min/max stats prune scans filtered on either
    or both columns, where a single-column sort only prunes one.

    Quantization is exact integer math end-to-end: per-dimension
    min/max (two scalars, collected once — the same bounded-driver
    pattern as every codebook/cutoff broadcast here) scale each value
    to a 2^ZORDER_BITS bucket via INTEGER division, then the Morton
    interleave is shift/mask/add.  No floats anywhere, so the key is
    bit-identical in the DuckDB oracle.

    The production write path is
    ``df.repartitionByRange(N, "z_key").sortWithinPartitions("z_key")``
    — range exchange on the z key (sampled bounds, skew-tolerant),
    then file-local sort; tested in
    tests/test_relational.py::test_zorder_partitions_have_local_bounding_boxes.
    """
    # floor() before the long cast: Spark's double→long cast truncates
    # while DuckDB's rounds, so neither engine's bare CAST is portable.
    lo_x, hi_x, lo_y, hi_y = orders.select(
        F.min("o_custkey"),
        F.max("o_custkey"),
        F.min(F.floor("o_totalprice").cast("long")),
        F.max(F.floor("o_totalprice").cast("long")),
    ).first()
    bx = F.expr(
        f"(o_custkey - {lo_x}) * {1 << ZORDER_BITS} div {hi_x - lo_x + 1}"
    ).cast("long")
    by = F.expr(
        f"(CAST(floor(o_totalprice) AS BIGINT) - {lo_y}) * {1 << ZORDER_BITS}"
        f" div {hi_y - lo_y + 1}"
    ).cast("long")
    return orders.select(
        "o_orderkey", bx.alias("bucket_x"), by.alias("bucket_y")
    ).select(
        "o_orderkey",
        "bucket_x",
        "bucket_y",
        _morton_interleave(F.col("bucket_x"), F.col("bucket_y")).alias("z_key"),
    )


def mad_outliers(orders: DataFrame) -> DataFrame:
    """Robust per-group outlier stats via MEDIAN ABSOLUTE DEVIATION:
    per order priority, the median total price, the MAD, and how many
    orders sit more than 3 MADs from the median — the
    mean/stddev-free outlier detector that heavy-tailed money columns
    need (a single whale order inflates a z-score baseline; it barely
    moves the median).

    Two exact-percentile aggregations and two broadcast joins of a
    ≤ |priorities|-row stats table — the fact table is scanned twice
    but never shuffled on anything wider than the group key, and the
    exact median's sort is per-group inside the aggregate.  Both
    engines implement exact linear-interpolation percentiles
    (percentile / quantile_cont) over doubles, so the medians agree
    bit-for-bit; derived values round to 2 (money) / 4 digits.
    """
    pri = "o_orderpriority"
    med = orders.groupBy(pri).agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    j = orders.select(pri, "o_totalprice").join(F.broadcast(med), pri)
    mad = j.groupBy(pri).agg(
        F.first("med").alias("med"),
        F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad"),
    )
    j2 = orders.select(pri, "o_totalprice").join(F.broadcast(mad), pri)
    return (
        j2.groupBy(pri)
        .agg(
            F.round(F.first("med"), 2).alias("median_price"),
            F.round(F.first("mad"), 2).alias("mad_price"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(
                    F.abs(F.col("o_totalprice") - F.col("med"))
                    > 3 * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


def first_last_order_gap(orders: DataFrame) -> DataFrame:
    """Per customer: first, second, and latest order price plus the
    first-to-latest delta — the first_value / nth_value / last_value
    window family over a full partition frame (ROWS UNBOUNDED
    PRECEDING → UNBOUNDED FOLLOWING; the default running frame would
    make last_value mean "current row", the classic window trap).

    One shuffle on the partition key, per-customer frames bounded by
    that customer's orders, deterministic via the orderkey tie-break;
    the distinct collapses the per-row window output to one row per
    customer (Catalyst reuses the window exchange for it).
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            "o_custkey",
            F.first_value("o_totalprice").over(w).alias("first_price"),
            # coalesce: single-order customers have no 2nd order; a
            # NULL double round-trips as None/NaN inconsistently
            # across engine client layers, so default it to the first
            # price instead of emitting a nullable money column.
            F.coalesce(
                F.nth_value("o_totalprice", 2).over(w),
                F.first_value("o_totalprice").over(w),
            ).alias("second_price"),
            F.last_value("o_totalprice").over(w).alias("latest_price"),
        )
        .distinct()
        .select(
            "o_custkey",
            F.round("first_price", 2).alias("first_price"),
            F.round("second_price", 2).alias("second_price"),
            F.round("latest_price", 2).alias("latest_price"),
            F.round(
                F.col("latest_price") - F.col("first_price"), 2
            ).alias("price_drift"),
        )
    )


def daily_revenue_dense(orders: DataFrame) -> DataFrame:
    """Gap-filled daily revenue: a DENSE calendar spine (every day
    from the first to the last order date, zero-filled) with each
    day's total — the resampling primitive time-series work needs
    before moving averages or anomaly baselines can be trusted (a
    missing day must read as 0, not silently collapse the window).

    The spine is ``sequence(min_date, max_date)`` exploded from a
    1-row aggregate — calendar-bounded (36 500 rows per century), so
    generating it driver-free and left-joining the daily aggregate is
    O(days) regardless of fact volume; the fact side aggregates
    BEFORE the join (day-keyed, map-side combined).
    """
    days = (
        orders.agg(
            F.min(F.to_date("o_orderdate")).alias("lo"),
            F.max(F.to_date("o_orderdate")).alias("hi"),
        )
        .select(
            F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
        )
    )
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        days.join(daily, "day", "left")
        .select(
            # ISO string, not DATE: date values round-trip as
            # date-vs-midnight-timestamp inconsistently across engine
            # client layers (same hazard as nullable doubles).
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        )
    )


def profile_table(df: DataFrame) -> DataFrame:
    """Single-pass column profiler: for every column, the null count
    and exact distinct count — the first query run against any new
    table, generated from the schema so it works on all of them.

    ONE aggregation job computes every column's stats together
    (2·|columns| aggregate expressions over one scan), then a bounded
    array-explode unpivots to (column, n_nulls, n_distinct) rows —
    never |columns| separate scans, which is how naive profilers turn
    a 100 TB audit into |columns| × 100 TB of I/O.
    """
    cols = df.columns
    aggs = []
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__n_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"__d_{c}"))
    one = df.agg(*aggs)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{c}").cast("long").alias("n_nulls"),
                F.col(f"__d_{c}").cast("long").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(pairs).alias("p")).select(
        "p.column", "p.n_nulls", "p.n_distinct"
    )


def weekly_revenue_wow(orders: DataFrame) -> DataFrame:
    """Week-over-week revenue: weekly totals plus the percent change
    vs the previous OBSERVED week — the period-over-period reporting
    primitive.  The lag window runs on the weekly AGGREGATE (bounded
    by the calendar, ~52 rows/year), unpartitioned by design — the
    same bounded-domain argument as every post-aggregate window here;
    the fact table sees only the one day-truncate + sum pass.
    """
    weekly = (
        orders.groupBy(
            F.date_format(
                F.date_trunc("week", "o_orderdate"), "yyyy-MM-dd"
            ).alias("week_start")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy(F.lit(1)).orderBy("week_start")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week_start",
        "revenue",
        F.round(
            F.when(prev.isNotNull(), (F.col("revenue") - prev) / prev * 100.0),
            2,
        ).alias("wow_pct"),
    ).filter(F.col("wow_pct").isNotNull())


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM segmentation: quartile scores for Recency (latest order
    date), Frequency (order count), and Monetary (total spend) per
    customer — the classic BI segmentation.  The corpus-sized work is
    ONE customer-keyed aggregation; the ntile windows run on the
    customer-bounded aggregate (unpartitioned by design — same
    bounded-domain argument as every post-aggregate window here).
    Ties break on the explicit (metric, custkey) order so quartile
    membership is deterministic across engines.
    """
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    rw = Window.partitionBy(F.lit(1)).orderBy(
        F.col("last_day").desc(), F.col("o_custkey").asc()
    )
    fw = Window.partitionBy(F.lit(1)).orderBy(
        F.col("frequency").desc(), F.col("o_custkey").asc()
    )
    mw = Window.partitionBy(F.lit(1)).orderBy(
        F.col("monetary").desc(), F.col("o_custkey").asc()
    )
    return per_cust.select(
        "o_custkey",
        F.date_format("last_day", "yyyy-MM-dd").alias("last_day"),
        "frequency",
        "monetary",
        F.ntile(4).over(rw).alias("r_score"),
        F.ntile(4).over(fw).alias("f_score"),
        F.ntile(4).over(mw).alias("m_score"),
    )


def corpus_index_coverage(
    documents: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """Referential-integrity report between the document corpus and
    its embedding index (doc_id ↔ vec_id): matched / text-only /
    vector-only counts and the coverage ratio — the pipeline health
    gate run before any retrieval or semantic-dedup job trusts the
    index.

    Single-shuffle shape (same trick as ``inventory_diff``): both key
    sets union into one tagged table and ONE groupBy computes
    presence per key; the final 1-row report aggregates the
    key-bounded result.  No full-outer join of two corpus-sized
    tables, no second exchange.
    """
    tagged = documents.select(
        F.col("doc_id").alias("k"), F.lit(1).alias("d"), F.lit(0).alias("e")
    ).unionAll(
        embeddings.select(
            F.col("vec_id").alias("k"), F.lit(0).alias("d"), F.lit(1).alias("e")
        )
    )
    pk = tagged.groupBy("k").agg(
        F.max("d").alias("in_docs"), F.max("e").alias("in_emb")
    )
    return pk.agg(
        F.sum("in_docs").alias("n_docs"),
        F.sum("in_emb").alias("n_embeddings"),
        F.sum(F.col("in_docs") * F.col("in_emb")).alias("n_matched"),
        F.sum(F.col("in_docs") * (1 - F.col("in_emb"))).alias("n_doc_only"),
        F.sum((1 - F.col("in_docs")) * F.col("in_emb")).alias("n_emb_only"),
    ).select(
        "*",
        F.round(F.col("n_matched") / F.col("n_docs"), 4).alias("coverage"),
    )


LIFT_MIN_PAIR_ORDERS = 20


def part_affinity_lift(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Association-rule statistics over the type co-occurrence pairs:
    support, confidence (both directions folded to max), and LIFT —
    P(a,b) / (P(a)·P(b)) — the measure that separates "frequent
    because both are common" from genuine affinity, which raw pair
    counts (the `part_type_affinity` query) cannot tell apart.

    Inputs are the same order-bounded distinct self-join plus one
    |types|-bounded marginal count joined in twice (broadcast — the
    type dimension is tiny by construction).  All ratios are exact
    integer divisions rounded at 4; the total-order count arrives as
    a 1-row broadcast scalar, not a second pass.
    """
    order_types = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_type")),
            lineitem["l_partkey"] == F.col("p_partkey"),
        )
        .select("l_orderkey", "p_type")
        .distinct()
    )
    from pyspark import StorageLevel

    order_types = order_types.persist(StorageLevel.MEMORY_AND_DISK)
    marg = order_types.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    total = order_types.select("l_orderkey").distinct().count()
    a, b = order_types.alias("a"), order_types.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_type") < F.col("b.p_type")),
        )
        .groupBy(
            F.col("a.p_type").alias("type_a"),
            F.col("b.p_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= LIFT_MIN_PAIR_ORDERS)
    )
    ma = marg.select(
        F.col("p_type").alias("type_a"), F.col("n_type").alias("n_a")
    )
    mb = marg.select(
        F.col("p_type").alias("type_b"), F.col("n_type").alias("n_b")
    )
    n_tot = F.lit(total)
    out = (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_pair",
            F.round(F.col("n_pair") / n_tot, 4).alias("support"),
            F.round(
                F.greatest(
                    F.col("n_pair") / F.col("n_a"),
                    F.col("n_pair") / F.col("n_b"),
                ),
                4,
            ).alias("confidence"),
            F.round(
                F.col("n_pair") * n_tot / (F.col("n_a") * F.col("n_b")), 4
            ).alias("lift"),
        )
    )
    from go_mailio_diskusage_handler_spark.caching import own_cache

    return own_cache(out, order_types)


MEDIAN_BUCKETS = 1024


def exact_global_median(orders: DataFrame) -> DataFrame:
    """[EXT] Exact global median via two distributed passes — no
    global sort, no single-task window.

    Spark's ``median``/``percentile`` aggregates buffer every value of
    a group in one task, and an unpartitioned ``row_number`` window
    serializes the table through one partition — both die at 100 TB.
    The scale-correct exact algorithm is histogram refinement:

    1. one pass aggregates (min, max, count) — three scalars;
    2. one pass builds a ``MEDIAN_BUCKETS``-bin histogram (map-side
       partial agg, ≤ ``MEDIAN_BUCKETS`` rows to the driver — bounded, like the
       codebook collects elsewhere in this package);
    3. the driver walks the histogram to find the bucket(s) holding
       the two middle ranks, then ONE narrow filtered pass (the range
       predicate prunes parquet row groups via min/max stats) ranks
       only ~n/MEDIAN_BUCKETS rows to read the exact order statistics.

    Slice membership reuses the SAME bucket expression as the
    histogram, so float rounding can't strand a row between passes;
    the conjoined conservative range predicate is there purely for
    scan-stat pruning.  Emits the two middle order statistics (raw
    data values) and an integer twice-median-in-cents — no derived
    float crosses the engine boundary (half-tie rounding differs).
    """
    v = F.col("o_totalprice")
    lo, hi, n = orders.agg(F.min(v), F.max(v), F.count(F.lit(1))).first()
    if n == 0:
        # Empty input: emit the empty report (no median exists) rather
        # than tripping None arithmetic below.
        return orders.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(v).alias("lo_mid"),
            F.max(v).alias("hi_mid"),
            F.lit(None).cast("bigint").alias("median_cents_x2"),
        ).where(F.lit(False))
    if hi == lo:
        # Degenerate all-equal column: the refinement slice would be
        # the WHOLE table through the single-task window this function
        # exists to avoid — the median is simply the value.
        return orders.limit(1).agg(
            F.lit(n).cast("bigint").alias("n_rows"),
            F.lit(lo).alias("lo_mid"),
            F.lit(lo).alias("hi_mid"),
            (F.round(F.lit(lo) * 100) * 2).cast("bigint").alias("median_cents_x2"),
        )
    width = (hi - lo) / MEDIAN_BUCKETS
    bexpr = F.least(
        F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(MEDIAN_BUCKETS - 1)
    )
    hist = dict(
        (r[0], r[1])
        for r in orders.groupBy(bexpr.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    k1, k2 = (n + 1) // 2, n // 2 + 1
    cum, rank_before, b1, b2 = 0, 0, None, None
    for b in sorted(hist):
        if b1 is None and cum + hist[b] >= k1:
            b1, rank_before = b, cum
        if cum + hist[b] >= k2:
            b2 = b
            break
        cum += hist[b]
    slice_df = orders.filter(
        (v >= lo + b1 * width - width)  # conservative: row-group pruning
        & (v <= lo + (b2 + 1) * width + width)
        & bexpr.between(b1, b2)  # exact: same expression as the histogram
    )
    ranked = slice_df.withColumn(
        "rn", F.row_number().over(Window.orderBy(v)) + F.lit(rank_before)
    )
    mid = ranked.filter(F.col("rn").isin(k1, k2))
    return mid.agg(
        F.lit(n).cast("bigint").alias("n_rows"),
        F.min(v).alias("lo_mid"),
        F.max(v).alias("hi_mid"),
        (F.round(F.min(v) * 100) + F.round(F.max(v) * 100))
        .cast("bigint")
        .alias("median_cents_x2"),
    )
