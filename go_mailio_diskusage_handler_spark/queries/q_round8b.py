"""Round-8 continuation additions: physical-layout planning ops
(compaction bin-packing, zone-map skipping audit), a scale-correct
exact median, and content-defined-chunking dedup.

In-repo oracle parity: the pytest ORACLE_CHECKED lists.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import relational, text
from ..sources import compaction
from ..sources.tables import load_table
from ._base import register

# DuckDB mirror of compaction.plan_compaction_bins: same synthetic
# per-(event_type, hour) file bytes, same running-sum bin assignment.
# Every aggregate is CAST BIGINT (DuckDB SUM(int) is HUGEINT); the
# hour bounds cross the engine boundary as epoch_us — raw TIMESTAMP
# columns are host-timezone-dependent in plain PySpark collect()
# (datetime.fromtimestamp uses the DRIVER's zone), which the round-11
# TZ=America/New_York sweep caught on exactly this query.
COMPACTION_BINS_SQL = """
    WITH files AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               CAST(SUM(COALESCE(length(props), 0) + 48) AS BIGINT) AS file_bytes
        FROM events GROUP BY 1, 2),
    binned AS (
        SELECT event_type, hour_ts, file_bytes,
               CAST(SUM(file_bytes) OVER (PARTITION BY event_type ORDER BY hour_ts)
                    AS BIGINT) AS cum
        FROM files)
    SELECT event_type,
           CAST(FLOOR((cum - file_bytes) / 4096.0) AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(file_bytes) AS BIGINT) AS bin_bytes,
           epoch_us(MIN(hour_ts)) AS first_hour_us,
           epoch_us(MAX(hour_ts)) AS last_hour_us
    FROM binned GROUP BY 1, 2
"""


@register("events_compaction_bins", COMPACTION_BINS_SQL)
def events_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Small-file compaction planner — greedy time-ordered
    bin-packing of per-(event_type, hour) micro-batch files into
    ~target-byte merge groups via one running-sum window over the file
    inventory (sources/compaction.py:plan_compaction_bins).  Hour
    bounds emitted as epoch_us per the repo's NTZ-proof convention."""
    from pyspark.sql import functions as F

    plan = compaction.plan_compaction_bins(load_table(spark, sf_dir, "events"))
    return plan.select(
        "event_type",
        "bin_id",
        "n_files",
        "bin_bytes",
        F.unix_micros("first_hour").alias("first_hour_us"),
        F.unix_micros("last_hour").alias("last_hour_us"),
    )


# DuckDB mirror of compaction.zone_map_skipping_audit: identical
# shard arithmetic (explicit multiplicative hash, integer division),
# written as a 3-way UNION ALL instead of the Spark-side explode.
ZONE_MAP_SKIPPING_SQL = """
    WITH z AS (
        SELECT 'date_partitioned' AS layout,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS shard,
               o_orderdate AS d
        FROM orders
        UNION ALL
        SELECT 'key_clustered', CAST(o_orderkey // 256 AS BIGINT), o_orderdate
        FROM orders
        UNION ALL
        SELECT 'hash_bucketed', CAST((o_orderkey * 2654435761) % 64 AS BIGINT),
               o_orderdate
        FROM orders),
    zm AS (SELECT layout, shard, MIN(d) AS dmin, MAX(d) AS dmax
           FROM z GROUP BY 1, 2)
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(CASE WHEN dmax >= TIMESTAMP '1997-03-01'
                          AND dmin <  TIMESTAMP '1997-04-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
    FROM zm GROUP BY 1
"""


@register("orders_zone_map_skipping", ZONE_MAP_SKIPPING_SQL)
def orders_zone_map_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Zone-map skipping audit: per candidate physical layout
    (month-partitioned / key-clustered / hash-bucketed), how many
    shards a 1-month date predicate can prune on file min/max stats
    (sources/compaction.py:zone_map_skipping_audit)."""
    return compaction.zone_map_skipping_audit(load_table(spark, sf_dir, "orders"))


# Oracle: the two middle order statistics by global value rank — the
# engine must find the identical raw data values.  ROW_NUMBER tie
# order among equal values cannot change the VALUE at a rank.
EXACT_MEDIAN_SQL = """
    WITH r AS (
        SELECT o_totalprice AS v,
               ROW_NUMBER() OVER (ORDER BY o_totalprice) AS rn,
               COUNT(*) OVER () AS n
        FROM orders)
    SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
           MIN(v) AS lo_mid,
           MAX(v) AS hi_mid,
           CAST(ROUND(MIN(v) * 100) + ROUND(MAX(v) * 100) AS BIGINT)
               AS median_cents_x2
    FROM r WHERE rn IN ((n + 1) // 2, n // 2 + 1)
"""


@register("percentile_exact_median", EXACT_MEDIAN_SQL)
def percentile_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Exact global median by histogram refinement — two
    bounded distributed passes plus one ~n/1024-row ranked slice; no
    global sort and no single-task full-table window
    (operators/relational.py:exact_global_median)."""
    return relational.exact_global_median(load_table(spark, sf_dir, "orders"))


# DuckDB mirror of text.cdc_chunk_stats, clause for clause: same
# literal-coefficient polynomial gram hash, same cut positions, the
# same sentinel-row + LAG chunk reconstruction.
_CDC_GRAM_DUCK = text._cdc_gram_hash_sql("t", "cut")

CDC_CHUNKS_SQL = f"""
    WITH d AS (SELECT doc_id, source, COALESCE(text, '') AS t FROM documents),
    pos AS (SELECT doc_id, source, t,
                   unnest(range(2, GREATEST(len(t) - {text.CDC_WIDTH - 2}, 2))) AS cut
            FROM d),
    cuts AS (SELECT doc_id, source, t, CAST(cut AS INT) AS cut
             FROM pos WHERE ({_CDC_GRAM_DUCK}) % {text.CDC_MODULUS} = 0),
    sent AS (SELECT doc_id, source, t, CAST(len(t) + 1 AS INT) AS cut FROM d),
    b AS (SELECT * FROM cuts UNION ALL SELECT * FROM sent),
    lagged AS (SELECT doc_id, source, t, cut,
                      COALESCE(LAG(cut) OVER (PARTITION BY doc_id ORDER BY cut), 1)
                          AS prev
               FROM b),
    chunks AS (SELECT doc_id, source, substring(t, prev, cut - prev) AS chunk
               FROM lagged)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS total_chunks,
           CAST(COUNT(DISTINCT chunk) AS BIGINT) AS distinct_chunks,
           CAST(SUM(len(chunk)) AS BIGINT) AS total_chunk_chars
    FROM chunks GROUP BY source
"""


@register("text_cdc_chunks", CDC_CHUNKS_SQL)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[EXT] Content-defined chunking dedup profile: rolling-hash cut
    points make shared passages yield identical chunks at any offset;
    per-source total vs distinct chunk counts quantify CDC-dedupable
    redundancy (operators/text.py:cdc_chunk_stats)."""
    return text.cdc_chunk_stats(load_table(spark, sf_dir, "documents"))
