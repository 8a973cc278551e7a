"""[EXT] Physical-layout planners: compaction bins, Z-order keys,
zone-map skipping and row-deletion plans.

At 100 TB the write path matters as much as the read path.  A pipeline
stage that emits millions of KB-sized files makes every downstream
scan pay per-file listing/open/footer overhead (and makes the S3
LIST itself a bottleneck); one that emits a handful of multi-GB files
kills read parallelism and retries.  The reference never faces this —
it writes nothing (its sink is an in-memory map, handler.go:252).
Each function here is a metadata-sized plan over a table or its file
listing that decides a layout before anything is rewritten.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def zorder_key(a: Column, b: Column, bits: int) -> Column:
    """Bit-interleaved Z-order key over two non-negative int columns.

    Sorting by one column makes row-group min/max stats selective for
    that column only; interleaving the bits of two columns gives a
    space-filling-curve order where files stay locally bounded in BOTH
    dimensions, so scans filtering on either column prune row groups.
    This is the 2-key core of what lakehouse engines call Z-ordering /
    multi-dimensional clustering.

    Values must fit ``bits`` bits (map unbounded domains to a rank or
    hash bucket first); the interleave is 2·bits bitwise ops, all
    whole-stage-codegen JVM expressions.
    """
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        abit = F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        bbit = F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z.bitwiseOR(abit.cast("bigint")).bitwiseOR(bbit.cast("bigint"))
    return z


COMPACTION_TARGET_BYTES = 4096
ROW_OVERHEAD_BYTES = 48


def plan_compaction_bins(events: DataFrame) -> DataFrame:
    """[EXT] Compaction *planner*: bin-pack per-partition small files
    into target-size merge groups.

    A streaming ingest that commits one file per (event_type, hour)
    micro-batch — the classic Structured-Streaming sink layout —
    accretes thousands of KB-sized files; before a rewrite, the
    compactor must decide WHICH files merge into WHICH output file.  The scale-correct plan
    keeps neighbouring hours together (preserves time-locality so the
    compacted file's min/max ts stats stay selective) and packs
    greedily in hour order until ``COMPACTION_TARGET_BYTES`` is reached: with
    files ordered by hour, ``bin = floor(bytes_before_file / target)``
    — a running-sum window per event_type, no driver loop, no
    all-pairs.  One shuffle on event_type for the window plus the
    partial-aggregated file listing; at 100 TB the input here is the
    file *inventory* (one row per file), not the data, so the whole
    plan is metadata-sized.

    File bytes are synthesized from the events themselves
    (``length(props) + ROW_OVERHEAD_BYTES`` per row) since the local
    fixtures are single parquet files; on a real lake the same plan
    runs directly over the S3 inventory / listing table.
    """
    from pyspark.sql import Window

    files = events.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour_ts")
    ).agg(
        F.sum(
            F.coalesce(F.length("props"), F.lit(0)) + F.lit(ROW_OVERHEAD_BYTES)
        ).alias("file_bytes")
    )
    w = Window.partitionBy("event_type").orderBy("hour_ts")
    binned = files.withColumn(
        "bin_id",
        F.floor(
            (F.sum("file_bytes").over(w) - F.col("file_bytes"))
            / F.lit(float(COMPACTION_TARGET_BYTES))
        ).cast("bigint"),
    )
    return binned.groupBy("event_type", "bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("file_bytes").alias("bin_bytes"),
        F.min("hour_ts").alias("first_hour"),
        F.max("hour_ts").alias("last_hour"),
    )


AUDIT_PRED_LO = "1997-03-01"
AUDIT_PRED_HI = "1997-04-01"
KEY_SHARD_ROWS = 256
HASH_BUCKETS = 64


def zone_map_skipping_audit(orders: DataFrame) -> DataFrame:
    """[EXT] Zone-map (file min/max stats) skipping audit across
    candidate physical layouts.

    Data skipping is THE 100 TB lever: a scan that consults per-file
    min/max stats reads only files whose [min, max] intersects the
    predicate.  How much skips is decided at *write* time by the
    layout, so before committing to one, audit candidates against the
    real query predicate.  Three layouts of `orders` vs a one-month
    ``o_orderdate`` window [AUDIT_PRED_LO, AUDIT_PRED_HI):

    * ``date_partitioned`` — shard = calendar month: the predicate
      column is the layout key, ~all shards skip;
    * ``key_clustered`` — shard = o_orderkey range: orderkey is
      uncorrelated with date here, so zone maps are wide and nothing
      skips (the honest negative result the audit exists to surface);
    * ``hash_bucketed`` — shard = multiplicative hash of the key:
      every shard spans the full date range, zero skipping.

    One scan: the three shard ids are exploded as (layout, shard)
    pairs, then a single hash-agg builds every zone map (min/max date
    per shard) and a second counts scanned-vs-skipped per layout —
    both metadata-sized after the first partial agg.  The hash uses
    explicit multiplicative arithmetic (not ``F.hash``) so the oracle
    computes the identical bucket.
    """
    d = F.col("o_orderdate")
    pairs = F.array(
        F.struct(
            F.lit("date_partitioned").alias("layout"),
            (F.year(d) * 12 + F.month(d)).cast("bigint").alias("shard"),
        ),
        F.struct(
            F.lit("key_clustered").alias("layout"),
            F.floor(F.col("o_orderkey") / KEY_SHARD_ROWS).cast("bigint").alias("shard"),
        ),
        F.struct(
            F.lit("hash_bucketed").alias("layout"),
            ((F.col("o_orderkey") * F.lit(2654435761)) % HASH_BUCKETS)
            .cast("bigint")
            .alias("shard"),
        ),
    )
    zone = (
        orders.select(F.explode(pairs).alias("ls"), d.alias("d"))
        .groupBy(F.col("ls.layout").alias("layout"), F.col("ls.shard").alias("shard"))
        .agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    )
    scanned = F.when(
        (F.col("dmax") >= F.lit(AUDIT_PRED_LO).cast("timestamp"))
        & (F.col("dmin") < F.lit(AUDIT_PRED_HI).cast("timestamp")),
        1,
    ).otherwise(0)
    return zone.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum(scanned).cast("bigint").alias("n_scanned"),
    )


#: Partition rewrite threshold: delete fraction above which rewriting
#: the partition's files beats carrying a deletion vector.
DELETE_REWRITE_FRAC = 0.2


def plan_delete_vectors(events: DataFrame, delete_users: DataFrame) -> DataFrame:
    """Row-deletion planning for a GDPR-style user purge: per
    (event_type, day) partition, how many rows the delete-list hits
    and whether to REWRITE the partition, attach a DELETION VECTOR,
    or SKIP it untouched.

    This is the modern-lakehouse delete decision (public Delta
    Lake/Iceberg merge-on-read design): small hit fractions are
    cheaper as position-delete bitmaps applied at read time; heavy
    hits amortize better as a copy-on-write rewrite; untouched
    partitions must not be rewritten at all (that turns a targeted
    purge into a full-table rewrite).

    Distributed shape: the delete-list is dimension-sized (a legal
    request queue, thousands of users — never fact-scale), so the
    mark join BROADCASTS it; the per-partition tally is one hash
    aggregate with map-side combine.  One scan, one shuffle,
    decision rows bounded by partition count.
    """
    # A purge queue can list the same user twice (two requests); a
    # non-distinct left join would then DUPLICATE that user's event
    # rows and corrupt every per-partition tally.
    deletes = delete_users.select("user_id").distinct()
    marked = events.join(
        F.broadcast(deletes.withColumn("is_del", F.lit(1))),
        "user_id",
        "left",
    )
    frac = F.col("n_deleted") / F.col("n_rows")
    # day rendered as 'yyyy-MM-dd' string (repo-wide cross-engine
    # date-key convention — see events_dau_wau).
    return (
        marked.groupBy(
            "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.coalesce(F.col("is_del"), F.lit(0))).alias("n_deleted"),
        )
        .select(
            "event_type",
            "day",
            "n_rows",
            "n_deleted",
            F.round(frac, 4).alias("delete_frac"),
            F.when(F.col("n_deleted") == 0, F.lit("skip"))
            .when(frac > DELETE_REWRITE_FRAC, F.lit("rewrite"))
            .otherwise(F.lit("deletion_vector"))
            .alias("action"),
        )
    )
