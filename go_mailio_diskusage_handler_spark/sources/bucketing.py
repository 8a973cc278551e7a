"""[EXT] Bucketed tables: co-located (shuffle-free) joins.

The one physical-layout feature Spark offers that no amount of AQE
recovers at runtime: writing both join sides bucketed (and sorted) by
the join key pins identical hash partitionings INTO THE STORAGE
LAYOUT, so a later sort-merge join needs neither an exchange nor (if
sorted) a sort — at 100 TB that deletes the single largest cost of a
fact-to-fact join.  Broadcast handles small dimensions; bucketing is
the answer when BOTH sides are big and the join key is stable
(user_id, custkey) across many downstream jobs — you pay one shuffle
at write time, then every consumer joins for free.

The reference never materializes anything (in-memory map,
handler.go:252); this is the scale path its Spark successor needs the
day two of its outputs join each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


N_BUCKETS = 8


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, *, sorted_by: str | None = None
) -> None:
    """Save ``df`` as a session-catalog Parquet table bucketed (and
    optionally sorted) by ``bucket_col`` — one shuffle now, zero
    join/aggregation exchanges on this key for every later reader."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # The in-memory catalog forgets managed tables between sessions but
    # their files survive in the warehouse dir; a fresh session's
    # saveAsTable then fails with LOCATION_ALREADY_EXISTS.  Clear the
    # orphaned location explicitly.
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "")).path
    if wh:
        shutil.rmtree(f"{wh}/{table.lower()}", ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        N_BUCKETS, bucket_col
    )
    if sorted_by is not None:
        w = w.sortBy(sorted_by)
    w.saveAsTable(table)


def bucketed_spend_by_nation(
    spark: SparkSession, orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """Customer spend per nation through a BUCKETED fact-to-fact join:
    both sides are written bucketed by custkey, read back from the
    catalog, and merge-joined with NO exchange on either side (the
    ``merge`` hint keeps AQE from broadcasting the smaller side, which
    would hide the point — and is asserted in the tests).

    Output equals the plain join+aggregate, which is exactly what the
    oracle checks; only the physical plan differs.
    """
    write_bucketed(
        orders.select("o_custkey", "o_totalprice"),
        "bkt_orders",
        "o_custkey",
        sorted_by="o_custkey",
    )
    write_bucketed(
        customer.select("c_custkey", "c_nationkey"),
        "bkt_customer",
        "c_custkey",
        sorted_by="c_custkey",
    )
    o = spark.table("bkt_orders")
    c = spark.table("bkt_customer").hint("merge")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
