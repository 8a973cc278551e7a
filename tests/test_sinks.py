"""Write-path coverage: partitioned parquet sinks and bucketed tables.

The 100 TB claim that matters here: two tables bucketed on the same
key join with ZERO exchanges — the co-location is paid once at write
time and amortized over every subsequent join (the blueprint for the
inventory snapshot ⋈ snapshot day-over-day joins at real scale).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from go_mailio_diskusage_handler_spark import plans
from go_mailio_diskusage_handler_spark.sources.tables import load_table

from conftest import SF_SMOKE


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Hive-partitioned sink: a filter on the partition column must
    prune directories at planning time (PartitionFilters), not scan
    everything and filter after."""
    out = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.write.partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = plans.formatted(back)
    assert "PartitionFilters" in plan, plan
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == want


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """bucketBy co-location: joining two tables bucketed (and sorted)
    on the join key produces a SortMergeJoin with NO exchange on
    either side."""
    # (warehouse dir is a static conf — managed tables land in
    # ./spark-warehouse; both are dropped below, dir is gitignored)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    (orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("b_orders"))
    (customer.withColumnRenamed("c_custkey", "cust_key")
        .write.bucketBy(8, "cust_key").sortBy("cust_key")
        .mode("overwrite").saveAsTable("b_customer"))
    # disable broadcast so the join must pick a co-located strategy
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("b_orders")
            .join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("cust_key"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = plans.executed_plan(joined)
        assert "SortMergeJoin" in plan, plan
        # the join itself must not shuffle; only the final groupBy may
        assert plans.shuffle_count(joined) <= 1, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC source/sink (AWS S3 Inventory's third delivery format):
    round-trip fidelity + predicate pushdown into the ORC scan."""
    out = str(tmp_path / "orders_orc")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.write.orc(out)
    back = spark.read.orc(out)
    assert back.count() == orders.count()
    filtered = back.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = plans.formatted(filtered)
    assert "PushedFilters: [" in plan, plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1][:200], plan


def test_zorder_key_matches_python_reference(spark):
    """Bit-interleave correctness against a pure-Python reference."""
    from go_mailio_diskusage_handler_spark.sources.compaction import zorder_key

    def ref(a, b, bits=16):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i + 1)
            z |= ((b >> i) & 1) << (2 * i)
        return z

    vals = [(0, 0), (1, 0), (0, 1), (5, 9), (1023, 77), (65535, 65535)]
    df = spark.createDataFrame(vals, "a bigint, b bigint")
    got = df.select("a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")).collect()
    for r in got:
        assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_write_prunes_on_both_columns(spark, tmp_path):
    """Z-ordered files must be min/max-selective on BOTH cluster
    columns: for a point filter on either column, fewer files can
    contain the value than under a single-column sort by the OTHER
    column (where that filter prunes nothing)."""
    import glob

    import pyarrow.parquet as pq

    from go_mailio_diskusage_handler_spark.sources.compaction import zorder_key

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )

    def files_possibly_containing(path, col, value):
        hits, total = 0, 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            schema_idx = md.schema.names.index(col)
            match = False
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(schema_idx).statistics
                if st is None or (st.min <= value <= st.max):
                    match = True
            total += 1
            hits += int(match)
        assert total >= 4, f"need multiple files to measure pruning, got {total}"
        return hits, total

    def write_sorted(df, path, key):
        # rebalance + file-local sort; maxRecordsPerFile forces several
        # files so there is something to prune
        (
            df.withColumn("_k", key)
            .hint("rebalance", "_k")
            .sortWithinPartitions("_k")
            .drop("_k")
            .write.option("maxRecordsPerFile", 1500)
            .parquet(path)
        )

    target = str(tmp_path / "zorder")
    write_sorted(li, target, zorder_key(F.col("l_partkey"), F.col("l_suppkey")))
    baseline = str(tmp_path / "suppsort")
    write_sorted(li, baseline, F.col("l_suppkey"))

    probe_part = li.select("l_partkey").first()[0]
    z_hits, z_total = files_possibly_containing(target, "l_partkey", probe_part)
    b_hits, b_total = files_possibly_containing(baseline, "l_partkey", probe_part)
    # suppkey-sorted layout cannot prune a partkey filter at all
    assert b_hits == b_total
    assert z_hits < z_total, (z_hits, z_total)


def test_analyze_table_stats_feed_cbo(spark):
    """ANALYZE TABLE statistics must land in the catalog — row counts
    and per-column NDVs are what the cost-based optimizer uses for
    join reordering and build-side choice at scale."""
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.write.mode("overwrite").saveAsTable("stats_orders")
    try:
        spark.sql("ANALYZE TABLE stats_orders COMPUTE STATISTICS FOR ALL COLUMNS")
        tdesc = spark.sql("DESCRIBE EXTENDED stats_orders").collect()
        stats = [r for r in tdesc if r["col_name"] == "Statistics"]
        assert stats and "rows" in stats[0]["data_type"], tdesc
        cdesc = {
            r["info_name"]: r["info_value"]
            for r in spark.sql("DESCRIBE EXTENDED stats_orders o_custkey").collect()
        }
        assert cdesc.get("distinct_count") not in (None, "NULL"), cdesc
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_orders")


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Joining a partitioned fact to a filtered file-backed dim must
    inject a dynamic-pruning subquery on the fact's partition column —
    at scale this is what turns 'scan all partitions then join' into
    'scan only the partitions the dim survivors name'."""
    orders = load_table(spark, SF_SMOKE, "orders")
    fact_path = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").parquet(fact_path)
    dim_path = str(tmp_path / "status_dim")
    spark.createDataFrame(
        [("F", "keep"), ("O", "drop"), ("P", "drop")], "status string, label string"
    ).write.parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("label") == "keep")
    joined = fact.join(dim, fact["o_orderstatus"] == dim["status"]).groupBy(
        "label"
    ).count()
    assert "dynamicpruning" in plans.formatted(joined).lower()
    want = orders.filter(F.col("o_orderstatus") == "F").count()
    assert joined.collect()[0]["count"] == want


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime row-level filtering: a selective dim side must inject a
    bloom filter on the fact scan of a shuffle join — the non-partition
    analog of DPP (fact rows that can't match are dropped before the
    exchange).  Local data is below the size thresholds, so they are
    lowered for the assertion; on a 100 TB fact the defaults fire."""
    old_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).count()
        assert "bloom" in plans.formatted(j).lower()
        assert j.count() == 1
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_scan,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
