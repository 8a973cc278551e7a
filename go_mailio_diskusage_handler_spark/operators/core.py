"""Core disk-usage pipeline — reference parity.

Reference chain (``/root/reference/handler.go``):

* O5 projection (``:203-221``): of ~21 S3-inventory columns, only
  ``key`` and ``size`` are extracted (switch on column name).
* O6 scalar derive (``:234-239``): ``address = split(key, "/")[0]``.
* O7 filter (``:235-238``): rows whose key has no ``/`` are skipped.
* O8 hash aggregation (``:231-251``): per-address ``SUM(size)`` and
  ``COUNT(*)`` into ``DiskUsage{address, size_bytes, number_files}``.
* O11 point lookup (``:255-262``): map probe by address.

Spark mapping and why it scales:

* ``select`` + Catalyst column pruning pushes the 2-of-21 projection
  into the Parquet scan (``ReadSchema`` shows only key/size) — the
  reference does this by hand, Catalyst does it for free.
* The malformed-key guard is a scan-level predicate; expressed with
  ``contains`` so it is pushdown-eligible.
* The groupBy compiles to ``HashAggregateExec`` partial → shuffle by
  ``address`` → final: map-side combine means the shuffle carries one
  row per (task, address), not per object.  At 100 TB / ~billions of
  objects this is the only shuffle in the pipeline, and its width is
  bounded by the number of distinct addresses, not the row count.
* No ``collect()`` here — serving layers (streaming.refresh) decide
  how to materialize.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def inventory_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Synthesize an S3-inventory-shaped table from ``lineitem``.

    ``key = l_orderkey/l_linenumber`` with ``size = l_extendedprice``,
    except ``l_linenumber = 7`` rows get a slash-less key so the
    malformed-key guard (handler.go:235-238) has real work to do.
    Mirrored 1:1 by DuckDB SQL in ``__spark_entry__.oracle_sql``.

    NOT widened (r16): the fixtures' lineitem scan yields 3 splits and
    an A/B with ``widen_for_compute`` before the key build REGRESSED
    every du_* query (du_core 1.13 → 1.64 s, du_scd2_history 1.28 →
    2.27 s isolated medians) — the round-robin repartition of 600 k
    rows (plus its sort-before-repartition pass) costs more than the
    3-way-parallel string build saves.  The widen guard pays off only
    above ~10× compute-per-row (shingling/md5 families), not for a
    concat_ws key build.
    """
    key = F.when(
        F.col("l_linenumber") == 7, F.col("l_orderkey").cast("string")
    ).otherwise(
        F.concat_ws(
            "/", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string")
        )
    )
    return lineitem.select(key.alias("key"), F.col("l_extendedprice").alias("size"))


def well_formed_key() -> Column:
    """O7 guard: key must have >= 2 slash-separated parts."""
    return F.size(F.split(F.col("key"), "/")) >= 2


def disk_usage(inventory: DataFrame, *, round_to: int | None = 2) -> DataFrame:
    """O5+O6+O7+O8: inventory(key, size) → DiskUsage aggregate.

    Output schema: ``address string, size_bytes, number_files bigint``.
    ``round_to`` stabilizes float sums for cross-engine hashing; pass
    ``None`` for the raw sum (real deployments: size is int64 anyway).
    """
    sum_col = F.sum("size")
    if round_to is not None:
        sum_col = F.round(sum_col, round_to)
    return (
        inventory.filter(well_formed_key())
        .select(F.split_part(F.col("key"), F.lit("/"), F.lit(1)).alias("address"), "size")
        .groupBy("address")
        .agg(
            sum_col.alias("size_bytes"),
            F.count(F.lit(1)).alias("number_files"),
        )
    )


def inventory_quality(inventory: DataFrame) -> DataFrame:
    """O9 row-invariant as a data-quality aggregate.

    The reference checks that the ``key`` and ``size`` column vectors
    it extracted have equal length and drops the whole file otherwise
    (``handler.go:224-228``).  Spark rows are structurally aligned, so
    the surviving useful invariant is null/malformed accounting: one
    pass, one row out, fit for a data-quality gate before the main
    aggregation.
    """
    return inventory.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.sum(F.col("key").isNull().cast("long")).alias("null_keys"),
        F.sum(F.col("size").isNull().cast("long")).alias("null_sizes"),
        F.sum((~well_formed_key()).cast("long")).alias("malformed_keys"),
    )


def disk_usage_observed(inventory: DataFrame, *, round_to: int | None = 2):
    """:func:`disk_usage` instrumented with ``df.observe`` counters.

    Returns ``(aggregate_df, Observation)``.  The quality counters
    (total rows seen, malformed keys dropped by the O7 guard) are
    accumulated DURING the aggregation's own scan — at 100 TB that is
    the difference between free metrics and a second full pass
    (:func:`inventory_quality` is the standalone twin when a gate must
    run *before* the main job).  Metric values are available from the
    Observation after the first action on the returned frame.
    """
    from pyspark.sql import Observation

    obs = Observation("inventory_quality")
    observed = inventory.observe(
        obs,
        F.count(F.lit(1)).alias("total_rows"),
        F.sum((~well_formed_key()).cast("long")).alias("malformed_keys"),
        # Deequ-style completeness/bounds counters for the swap gate
        # (refresh.py quality_gate) — same scan, zero extra passes.
        F.sum(F.col("size").isNull().cast("long")).alias("null_size_rows"),
        F.sum((F.col("size") < 0).cast("long")).alias("negative_size_rows"),
    )
    return disk_usage(observed, round_to=round_to), obs


def inventory_diff(inv_old: DataFrame, inv_new: DataFrame) -> DataFrame:
    """Day-over-day inventory diff: objects added/deleted between two
    snapshots (SURVEY §2.1 set ops — the new/deleted-objects pattern).

    Shape chosen for 100 TB: tag each snapshot, union, and resolve
    presence with ONE groupBy on ``key`` — a single shuffle with
    map-side partial aggregation.  The naive pair of anti-joins
    shuffles each snapshot twice; this halves the shuffled volume, and
    the uniformly-distributed object keys shard evenly (no skew).
    """
    tagged = inv_old.select(
        "key", F.lit(1).alias("o"), F.lit(0).alias("n")
    ).unionByName(inv_new.select("key", F.lit(0).alias("o"), F.lit(1).alias("n")))
    per_key = tagged.groupBy("key").agg(
        F.max("o").alias("in_old"), F.max("n").alias("in_new")
    )
    return per_key.filter(F.col("in_old") != F.col("in_new")).select(
        "key",
        F.when(F.col("in_new") == 1, F.lit("added"))
        .otherwise(F.lit("deleted"))
        .alias("change"),
    )


def incremental_disk_usage(
    prev_agg: DataFrame, added_inv: DataFrame, removed_inv: DataFrame
) -> DataFrame:
    """Incremental snapshot maintenance (SURVEY §4 memoization [EXT]):
    fold a day's added/removed objects into the previous per-address
    aggregate instead of re-reading the full 100 TB inventory.

    SUM/COUNT are abelian-group aggregates, so the delta is a union of
    signed contributions — previous totals, plus added objects, minus
    removed ones — collapsed by ONE groupBy.  Addresses whose file
    count drops to zero disappear (matching what a full re-aggregation
    would produce).  Cost scales with |delta| + |aggregate|, not with
    inventory size; the full-refresh path stays available as the
    consistency anchor.
    """
    added = added_inv.filter(well_formed_key()).select(
        F.split_part(F.col("key"), F.lit("/"), F.lit(1)).alias("address"),
        F.col("size").alias("d_size"),
        F.lit(1).cast("long").alias("d_files"),
    )
    removed = removed_inv.filter(well_formed_key()).select(
        F.split_part(F.col("key"), F.lit("/"), F.lit(1)).alias("address"),
        (-F.col("size")).alias("d_size"),
        F.lit(-1).cast("long").alias("d_files"),
    )
    prev = prev_agg.select(
        "address",
        F.col("size_bytes").alias("d_size"),
        F.col("number_files").alias("d_files"),
    )
    return (
        prev.unionByName(added)
        .unionByName(removed)
        .groupBy("address")
        .agg(
            F.round(F.sum("d_size"), 2).alias("size_bytes"),
            F.sum("d_files").alias("number_files"),
        )
        .filter(F.col("number_files") > 0)
    )


def disk_usage_lookup(disk_usage_df: DataFrame, address: str) -> DataFrame:
    """O11 ``GetDiskUsage``: point lookup on the aggregate.

    Over a materialized aggregate (the checkpointed snapshot that
    ``streaming.refresh.DiskUsageHandler(serving="dataframe")``
    publishes) this is one job scanning the aggregate's rows, not the
    inventory; the handler's default map serving probes a driver-side
    dict in O(1) instead, matching handler.go:258.
    """
    return disk_usage_df.filter(F.col("address") == address)


def heavy_users(disk_usage_df: DataFrame, multiple: float = 3.0) -> DataFrame:
    """Capacity triage over the O8 aggregate: addresses holding at
    least ``multiple``× the average per-address bytes, with their share
    of the total — the "which users dominate the bucket" question the
    reference's map can only answer by a full client-side scan.

    Plan at scale: one global aggregate (avg + sum — a single 1-row
    result) broadcast back over the per-address table, then a pure
    filter.  No global sort, no window over the fact: the comparison
    is against BROADCAST scalars, so cost is one pass over the
    (distinct-address-bounded) aggregate regardless of corpus size.
    """
    stats = disk_usage_df.agg(
        F.avg("size_bytes").alias("_avg_bytes"),
        F.sum("size_bytes").alias("_total_bytes"),
    )
    return (
        disk_usage_df.crossJoin(F.broadcast(stats))
        .filter(F.col("size_bytes") >= multiple * F.col("_avg_bytes"))
        .select(
            "address",
            "size_bytes",
            "number_files",
            F.round(F.col("size_bytes") / F.col("_total_bytes"), 4).alias(
                "share_of_total"
            ),
            F.round(F.col("size_bytes") / F.col("_avg_bytes"), 2).alias(
                "avg_multiple"
            ),
        )
    )


def usage_growth(
    inv_old: DataFrame, inv_new: DataFrame, k: int = 10
) -> DataFrame:
    """Top-k disk-usage GROWTH between two inventory snapshots: the
    capacity-planning leaderboard ("who grew most since yesterday")
    the reference's consumers ask next after point lookups.

    Both snapshots aggregate independently (unrounded sums — rounding
    happens once, on the delta), FULL-OUTER join on address so new and
    vanished users both report (their other side coalesces to 0), and
    the top-k is TakeOrderedAndProject with an address tie-break.  At
    scale both aggregates shuffle on the same key, so AQE plans the
    join exchange-free off the aggregation layouts.
    """
    old = disk_usage(inv_old, round_to=None).select(
        "address",
        F.col("size_bytes").alias("old_bytes"),
        F.col("number_files").alias("old_files"),
    )
    new = disk_usage(inv_new, round_to=None).select(
        "address",
        F.col("size_bytes").alias("new_bytes"),
        F.col("number_files").alias("new_files"),
    )
    joined = old.join(new, "address", "full_outer").select(
        "address",
        F.coalesce("old_bytes", F.lit(0.0)).alias("ob"),
        F.coalesce("new_bytes", F.lit(0.0)).alias("nb"),
        F.coalesce("old_files", F.lit(0)).alias("of"),
        F.coalesce("new_files", F.lit(0)).alias("nf"),
    )
    return (
        joined.select(
            "address",
            F.round(F.col("nb") - F.col("ob"), 2).alias("growth_bytes"),
            (F.col("nf") - F.col("of")).alias("growth_files"),
        )
        .orderBy(F.desc("growth_bytes"), F.asc("address"))
        .limit(k)
    )


SCD2_OPEN_END = "9999-12-31"


def scd2_history(
    old_agg: DataFrame,
    new_agg: DataFrame,
    day_old: str,
    day_new: str,
) -> DataFrame:
    """SCD-Type-2 merge of two disk-usage snapshots: the versioned
    warehouse form of the reference's full-snapshot swap — instead of
    discarding the old aggregate (handler.go:252), each address keeps
    a validity-interval history: unchanged rows stay open from
    ``day_old``; changed rows close the old version at ``day_new``
    and open a new one; new addresses open at ``day_new``; deleted
    addresses close at ``day_new``.  ``valid_to`` uses the standard
    9999-12-31 open-end sentinel (also dodging NULL-vs-NaN client
    drift).

    Shape: ONE full-outer join on address (both sides are already
    per-address aggregates — the reduced tables, not the fact), then
    each address emits its 1-2 version rows via an array build +
    explode: no union of two separately-joined branches, no second
    shuffle.  At 100 TB this is the day-over-day snapshot⋈snapshot
    join that bucketed storage makes exchange-free (SCALE.md §2).
    """
    o = old_agg.select(
        F.col("address"),
        F.col("size_bytes").alias("o_size"),
        F.col("number_files").alias("o_files"),
    )
    n = new_agg.select(
        F.col("address"),
        F.col("size_bytes").alias("n_size"),
        F.col("number_files").alias("n_files"),
    )
    j = o.join(n, "address", "full_outer")
    in_old = F.col("o_files").isNotNull()
    in_new = F.col("n_files").isNotNull()
    changed = in_old & in_new & (
        (F.col("o_size") != F.col("n_size"))
        | (F.col("o_files") != F.col("n_files"))
    )
    unchanged = in_old & in_new & ~changed

    def ver(size, files, frm, to, cur):
        return F.struct(
            size.alias("size_bytes"),
            files.alias("number_files"),
            F.lit(frm).alias("valid_from"),
            F.lit(to).alias("valid_to"),
            F.lit(cur).alias("is_current"),
        )

    versions = F.array_compact(
        F.array(
            # surviving old version: open if unchanged, closed if
            # changed or deleted
            F.when(
                unchanged,
                ver(F.col("o_size"), F.col("o_files"), day_old,
                    SCD2_OPEN_END, True),
            ).when(
                in_old,
                ver(F.col("o_size"), F.col("o_files"), day_old,
                    day_new, False),
            ),
            # new version for changed or newly appeared addresses
            F.when(
                changed | (in_new & ~in_old),
                ver(F.col("n_size"), F.col("n_files"), day_new,
                    SCD2_OPEN_END, True),
            ),
        )
    )
    v = F.explode(versions).alias("v")
    return j.select("address", v).select(
        "address",
        F.col("v.size_bytes").alias("size_bytes"),
        F.col("v.number_files").alias("number_files"),
        F.col("v.valid_from").alias("valid_from"),
        F.col("v.valid_to").alias("valid_to"),
        F.col("v.is_current").alias("is_current"),
    )


def quota_alerts(agg: DataFrame, quota_quantile: float = 0.95) -> DataFrame:
    """Quota-breach report over the disk-usage aggregate — the
    decision the reference's lookup API exists to serve (mailio
    checks an address's usage against its plan before accepting
    attachments), pushed down into the engine as a set-returning
    query: every address above quota, with its absolute and relative
    excess.  The demo quota is the aggregate's own ``quota_quantile``
    usage percentile (a real deployment joins a plans dimension —
    same broadcast shape).

    The percentile is ONE 1-row aggregate over the already-reduced
    per-address table, broadcast back via cross join — no second scan
    of the fact table, no sort.
    """
    q = agg.agg(
        F.expr(f"percentile(size_bytes, {quota_quantile})").alias("quota")
    )
    return (
        agg.crossJoin(F.broadcast(q))
        .filter(F.col("size_bytes") > F.col("quota"))
        .select(
            "address",
            "size_bytes",
            "number_files",
            F.round("quota", 2).alias("quota"),
            # excess as exact integer CENTS: size_bytes and quota are
            # ~2-dp values, so their difference sits within float noise
            # of a cent grid point — re-rounding the DIFFERENCE at 2 dp
            # is a systematic tie that splits across engines, while
            # nearest-integer in cent space has ~1e-5 of slack.
            F.round((F.col("size_bytes") - F.col("quota")) * 100, 0)
            .cast("long")
            .alias("excess_cents"),
            F.round(F.col("size_bytes") / F.col("quota"), 4).alias(
                "usage_ratio"
            ),
        )
    )


def largest_files_per_address(
    inventory: DataFrame, k: int = 3
) -> DataFrame:
    """Per-address largest objects: the drill-down behind every quota
    conversation ("what is taking my space?") — top ``k`` objects by
    size per address with their share of the address's total.

    One address-partitioned window over the raw inventory (the
    per-key top-k shape; partitions are per-user object counts, never
    the corpus) sharing its shuffle with a windowed SUM for the share
    denominator — no join back to the aggregate, no second exchange.
    """
    addr = F.split_part(F.col("key"), F.lit("/"), F.lit(1))
    base = inventory.filter(well_formed_key()).select(
        addr.alias("address"), "key", "size"
    )
    w = Window.partitionBy("address")
    rk = Window.partitionBy("address").orderBy(
        F.desc("size"), F.asc("key")
    )
    return (
        base.select(
            "address",
            "key",
            F.round("size", 2).alias("size"),
            F.row_number().over(rk).alias("size_rank"),
            F.round(F.col("size") / F.sum("size").over(w), 4).alias(
                "addr_share"
            ),
        )
        .filter(F.col("size_rank") <= k)
    )
